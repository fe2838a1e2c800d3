package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.curation.CuratedIndexes
import graft.dedup.IndexedDedup
import graft.similarity.Clustering
import graft.tables.Tables
import graft.text.{Bm25Index, Retrieval}

/** The curated corpus both index workloads share, as q304/q306 build it:
  * every `CorpusStride`-th document of the fixture, its embedding-store
  * vectors (doc d ↦ vector d, for the docs the store covers), the frozen 16
  * seed centroids, and a seven-index bootstrap (dedup shingle + doc, BM25
  * term + doc + stats, IVF cells, one manifest). The batches the engine is
  * handed after set-up are generated here from the seed. */
final class CuratedCorpus(spark: SparkSession, data: String) {
  import CuratedCorpus._

  val docsDf: DataFrame = Tables.documents(spark, data)
    .select("doc_id", "text").where(col("doc_id") % CorpusStride === 0)
  val corpus: IndexedSeq[(Long, String)] = docsDf.collect()
    .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toIndexedSeq
  /** Pinned once: the retained corpus every takedown re-audits against. */
  val corpusDf: DataFrame = docsDf.cache()
  private val embDf = Tables.embeddings(spark, data)
  val vectors: Map[Long, Array[Float]] = embDf.select("vec_id", "embedding")
    .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  val centroids: Seq[(Int, Array[Double])] =
    Clustering.seedCentroids(embDf, "vec_id", "embedding", Cells)
  val textOf: Map[Long, String] = corpus.toMap
  /** Corpus docs with a near-duplicate in the corpus (word k-shingle
    * Jaccard ≥ the threshold; the sf0.1 corpus has ten such pairs). The
    * reversed copies of a pair would match each other, so no batch copies
    * either. */
  private val nearDup: Set[Long] = {
    val sh = corpus.map { case (id, t) =>
      id -> tokens(t).sliding(K).map(_.mkString(" ")).toSet
    }.toMap
    val postings = sh.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).map { case (s, v) => s -> v.map(_._2) }
    sh.collect { case (id, ss) if ss.toSeq.flatMap(postings).filter(_ != id)
        .groupBy(identity).exists { case (other, common) =>
          common.size.toDouble / (ss.size + sh(other).size - common.size) >=
            Threshold
        } => id
    }.toSet
  }
  /** Originals a batch may copy: long enough that the planted verdicts
    * cannot hinge on a handful of shingles and without a near-duplicate,
    * split by whether the embedding store covers them (so every batch
    * feeds the ANN family the same number of vectors). */
  private val (embedded, plain) =
    corpus.collect {
      case (id, t) if tokens(t).length >= MinTokens && !nearDup(id) => id
    }.partition(vectors.contains)
  /** The corpus share the embedding store covers; each batch keeps it. */
  private val embeddedShare =
    corpus.count(d => vectors.contains(d._1)).toDouble / corpus.size
  private def split(n: Int): (Int, Int) = {
    val e = math.round(n * embeddedShare).toInt
    (e, n - e)
  }
  val vocab: IndexedSeq[String] = corpus.flatMap(d => tokens(d._2)).distinct.sorted
  require(embedded.size >= split(BatchExact)._1 + split(BatchReversed)._1 &&
    plain.size >= split(BatchExact)._2 + split(BatchReversed)._2 &&
    vocab.size >= 8,
    s"fixture at $data is too small for the curated corpus")

  /** (doc_id, vector) rows for docs whose original is embedded. */
  def vecsDf(docs: Seq[(Long, Long)]): DataFrame = {
    val rows = docs.flatMap { case (id, orig) =>
      vectors.get(orig).map(v => Row(id, v.toSeq))
    }
    spark.createDataFrame(rows.asJava, VecSchema)
  }

  def docsFrame(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava,
      DocSchema)

  /** Bootstraps all seven indexes under `root`. */
  def bootstrap(root: String): CuratedIndexes.Indexes = {
    val d = Seq("shingle", "dedup_doc", "term", "bm25_doc", "stats",
      "manifest", "ann").map(s => s"$root/$s")
    CuratedIndexes.bootstrap(spark, corpusDf, K, MaxShingleDf, MaxTermDf,
      d(0), d(1), d(2), d(3), d(4), d(5), RowCap,
      ann = Some(CuratedIndexes.Ann(d(6), centroids)),
      annVecs = Some(vecsDf(corpus.map(c => (c._1, c._1)))))
  }

  /** A planted micro-batch: `BatchExact` exact copies (verdict
    * dup_of_keep) and `BatchReversed` word-reversed copies (verdict kept)
    * of distinct originals, each part embedded in the corpus's share,
    * under ids no other batch uses (`tag` is unique per batch). Returns
    * (doc_id, original id, text, expected status). */
  def plantedBatch(rng: Random, tag: Long): Seq[(Long, Long, String, String)] = {
    val (eX, pX) = split(BatchExact)
    val (eR, pR) = split(BatchReversed)
    val e = rng.shuffle(embedded).take(eX + eR)
    val p = rng.shuffle(plain).take(pX + pR)
    val exact = (e.take(eX) ++ p.take(pX)).zipWithIndex.map { case (o, j) =>
      (ExactBase + tag * 1000 + j, o, textOf(o), "dup_of_keep")
    }
    val reversed = (e.drop(eX) ++ p.drop(pX)).zipWithIndex.map { case (o, j) =>
      (ReversedBase + tag * 1000 + j, o, tokens(textOf(o)).reverse.mkString(" "),
        "kept")
    }
    exact ++ reversed
  }

  /** q306's query vectors (`ProbeIds`), each with its exact L2 top-10
    * over the indexed (corpus ∧ embedded) vectors. */
  def probes(): IndexedSeq[(Long, Set[Long])] = {
    val indexed = corpus.map(_._1).filter(vectors.contains)
      .map(id => id -> vectors(id).map(_.toDouble))
    ProbeIds.map { v =>
      val q = vectors(v).map(_.toDouble)
      def l2(c: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < q.length) { val d = q(i) - c(i); s += d * d; i += 1 }
        s
      }
      v -> indexed.map { case (id, c) => (l2(c), id) }.sorted.take(10)
        .map(_._2).toSet
    }
  }

  /** ANN top-10 for `probes` through the curated index; returns (every
    * probe got ten answers, answers that are in the exact top-10). */
  def probeAnn(idx: CuratedIndexes.Indexes, probes: Seq[(Long, Set[Long])],
               tr: Tracer, client: Int, seq: Long): (Boolean, Long) = {
    val pv = vecsDf(probes.map(p => (p._1, p._1)))
    val got = tr.span("curation", client, seq)(
      CuratedIndexes.probeAnn(spark, idx, pv, NProbe, 10).collect())
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    (probes.forall(p => got.get(p._1).exists(_.size == 10)),
      probes.map(p => got.getOrElse(p._1, Set.empty[Long]).count(p._2)).sum.toLong)
  }

  /** Verdict check: every planted doc carries its expected status. */
  def verdictsMatch(batch: Seq[(Long, Long, String, String)],
                    verdicts: DataFrame): Boolean = {
    val got = verdicts.select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val wrong = batch.filterNot(b => got.get(b._1).contains(b._4))
    wrong.take(5).foreach { b =>
      System.err.println(s"[perfbench] doc ${b._1} (copy of ${b._2}): " +
        s"${got.getOrElse(b._1, "missing")}, expected ${b._4}")
    }
    got.size == batch.size && wrong.isEmpty
  }
}

/** Sizes and settings, all from the repository's own curated-index
  * queries at sf0.1 (StreamingQueries q303/q304/q306). */
object CuratedCorpus {
  /** q304/q306's corpus: doc_id % 5 (1000 documents). */
  val CorpusStride = 5
  val Cells = 16
  val K = 3
  val Threshold = 0.3
  val MaxShingleDf = 20
  val MaxTermDf = 65536L
  val RowCap = 65536L
  val MinTokens = 20
  /** One batch is the size of q304's second merge batch (167 docs, the
    * doc_id % 30 originals), split exact:reversed as its first (500:334). */
  val BatchExact = 100
  val BatchReversed = 67
  /** q306 probes 4 of the 16 cells for its query vectors vec_id < 10. */
  val NProbe = 4
  val ProbeIds: IndexedSeq[Long] = (0L until 10L)
  val ExactBase = 1000000000000L
  val ReversedBase = 2000000000000L
  val DocSchema: StructType = StructType.fromDDL("doc_id BIGINT, text STRING")
  val VecSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("embedding", ArrayType(FloatType))))

  def tokens(text: String): Array[String] = text.trim.split("\\s+")

  def release(df: DataFrame): Unit = { Bridge.unpersistLocalCheckpoint(df); () }
}

/** `curate_stream`: one writer in a closed loop. Each op is one cycle — a
  * planted micro-batch through `CuratedIndexes.processBatch` with the
  * dedup, BM25 and ANN families attached, then a `retractBatch` takedown
  * of the ids it kept — so every cycle does the same work on the same
  * committed state and disk stays bounded. */
final class CurateStream(spark: SparkSession, data: String, root: String,
                         seed: Long, tr: Tracer) extends Workload {
  import CuratedCorpus._

  val clients = 1
  val loop = "closed loop, 1 writer"
  val rowsWhat = s"batch docs (${BatchExact + BatchReversed} per cycle; " +
    s"corpus: every ${CorpusStride}th document)"

  private var fx: CuratedCorpus = _
  private var idx: CuratedIndexes.Indexes = _
  private var bootDocCount = 0L
  private var bootTop: Seq[Row] = Nil
  private val FixedTerms = Seq("join", "table", "vector")
  private val batchBytes = new AtomicLong
  private val batches = new AtomicLong
  private var probes: IndexedSeq[(Long, Set[Long])] = _
  private val annHits = new AtomicLong
  private val annSlots = new AtomicLong

  def setup(): Unit = {
    fx = new CuratedCorpus(spark, data)
    idx = fx.bootstrap(root)
  }

  def prepare(): Unit = {
    bootDocCount = docCount()
    bootTop = top10()
    probes = fx.probes()
  }

  private def docCount(): Long = {
    val snap = idx.dedup.manifest.read().get
    idx.dedup.doc.allRows(snap.buckets(idx.dedup.docName)).count()
  }

  private def top10(): Seq[Row] = {
    val t = Bm25Index.query(spark, idx.bm25, FixedTerms, 10)
    try t.collect().toSeq finally release(t)
  }

  def op(client: Int, seq: Long): (Boolean, Long) = {
    val batch = fx.plantedBatch(new Random(seed * 1000003L + seq), seq)
    batchBytes.addAndGet(batch.map(b => 8L + b._3.getBytes("UTF-8").length).sum)
    batches.incrementAndGet()
    val docs = fx.docsFrame(batch.map(b => (b._1, b._3)))
    val vecs = fx.vecsDf(batch.map(b => (b._1, b._2)))
    val batchSeq = 2 * seq + 1
    val verdicts = tr.span("curation", client, seq)(
      CuratedIndexes.processBatch(spark, idx, docs, batchSeq, K, Threshold,
        MaxShingleDf, MaxTermDf, annVecs = Some(vecs)))
    val okVerdicts = try fx.verdictsMatch(batch, verdicts) finally release(verdicts)
    val kept = batch.filter(_._4 == "kept")
    tr.span("curation", client, seq)(
      CuratedIndexes.retractBatch(spark, idx,
        fx.docsFrame(kept.map(b => (b._1, b._3))), batchSeq + 1, K,
        MaxShingleDf, MaxTermDf, retained = Some(fx.corpusDf),
        retractVecs = Some(fx.vecsDf(kept.map(b => (b._1, b._2))))))
    val okCount = tr.span("dedup", client, seq)(docCount()) == bootDocCount
    val okTop = tr.span("text", client, seq)(top10()) == bootTop
    val (okAnn, hits) = fx.probeAnn(idx, probes, tr, client, seq)
    annHits.addAndGet(hits)
    annSlots.addAndGet(10L * probes.size)
    if (!(okVerdicts && okCount && okTop && okAnn))
      System.err.println(s"[perfbench] op $seq: verdicts $okVerdicts, doc count " +
        s"$okCount, BM25 top-10 $okTop, ANN answers $okAnn")
    (okVerdicts && okCount && okTop && okAnn, batch.size.toLong)
  }

  def inputBytesPerOp: Double = batchBytes.get.toDouble / math.max(1L, batches.get)
  def annRecall: Option[Double] =
    Some(annHits.get.toDouble / math.max(1L, annSlots.get))
}

/** `retrieve`: two concurrent clients in a closed loop, read-only against
  * a curated index bootstrapped once in set-up. Each op is one mixed
  * query batch over the three families the writer maintains: a BM25
  * top-10 query table shaped like q303's, an ANN top-10 probe of q306's
  * query vectors, and a read-only near-dup lookup of one planted batch
  * against the committed snapshot (manifest time travel). */
final class Retrieve(spark: SparkSession, data: String, root: String,
                     seed: Long, tr: Tracer) extends Workload {
  import CuratedCorpus._

  val clients = 2
  val loop = "closed loop, 2 concurrent clients"
  /** Terms per query of q303's six-query table. */
  private val QueryTerms = Seq(2, 3, 2, 3, 4, 2)
  val rowsWhat = s"queries (${QueryTerms.size} BM25 + ${ProbeIds.size} ANN + " +
    s"${BatchExact + BatchReversed} near-dup lookups per op; corpus: every " +
    s"${CorpusStride}th document)"

  private var fx: CuratedCorpus = _
  private var idx: CuratedIndexes.Indexes = _
  private var snap: graft.dedup.IndexManifest.State = _
  /** The seeded query table: query id → its (sorted) terms and the
    * one-shot scorer's top-10 rows (rank, doc_id, score). */
  private var bm25Queries: Seq[(Long, Seq[String], Seq[(Long, Long, Double)])] = _
  /** probe vector id → exact L2 top-10 doc ids over the indexed vectors. */
  private var probes: IndexedSeq[(Long, Set[Long])] = _
  private val annHits = new AtomicLong
  private val annSlots = new AtomicLong

  def setup(): Unit = {
    fx = new CuratedCorpus(spark, data)
    idx = fx.bootstrap(root)
    snap = idx.dedup.manifest.read().get
  }

  def prepare(): Unit = {
    val rng = new Random(seed)
    val pool = QueryTerms.zipWithIndex.map { case (n, q) =>
      (q.toLong, rng.shuffle(fx.vocab).take(n).sorted)
    }
    // the reference: Retrieval's one-shot scorer over the corpus itself,
    // one plan per query, unioned into a single collect
    val oneShot = pool.map { case (q, terms) =>
      Retrieval.bm25TopK(fx.corpusDf.withColumn("part", lit(0)), "part",
        "doc_id", "text", terms, 10)
        .select(lit(q).as("query_id"), col("rank").cast("long"), col("doc_id"),
          col("score"))
    }.reduce(_ unionByName _).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
      }
    bm25Queries = pool.map { case (q, t) => (q, t, oneShot(q)) }
    probes = fx.probes()
  }

  def op(client: Int, seq: Long): (Boolean, Long) = {
    val qs = bm25Queries
    val qTable = spark.createDataFrame(
      qs.flatMap { case (q, terms, _) => terms.map(t => Row(q, t)) }.asJava,
      StructType.fromDDL("query_id BIGINT, term STRING"))
    val bm = tr.span("text", client, seq)(
      Bm25Index.queryTable(spark, idx.bm25, qTable, 10))
    val gotBm = try bm.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    } finally release(bm)
    val okBm = qs.forall { case (q, _, want) => gotBm.get(q).contains(want) }

    val (okAnn, hits) = fx.probeAnn(idx, probes, tr, client, seq)
    annHits.addAndGet(hits)
    annSlots.addAndGet(10L * probes.size)

    val lookup = fx.plantedBatch(new Random(seed * 1000003L + seq), seq)
    val verdicts = tr.span("dedup", client, seq)(
      IndexedDedup.processBatch(spark, idx.dedup,
        fx.docsFrame(lookup.map(b => (b._1, b._3))), snap.batchSeq + 1, K,
        Threshold, MaxShingleDf, asOf = Some(snap)))
    val okDedup = try fx.verdictsMatch(lookup, verdicts) finally release(verdicts)
    (okBm && okAnn && okDedup, (qs.size + probes.size + lookup.size).toLong)
  }

  def inputBytesPerOp: Double = 0.0
  def annRecall: Option[Double] =
    Some(annHits.get.toDouble / math.max(1L, annSlots.get))
}
