package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.VectorFieldDB
import graft.operators.{CorpusPipeline, Dedup, InvertedIndex, KMeansIndex, Search}
import graft.sources.Tables

/** One client's closed loop over a store. `generate` writes the seeded
  * inputs (no Spark involved, not timed), `build` makes the store ready
  * for its first query (index build time), and `cycle` is one pass of
  * the op mix. The first cycles warm the JVM and are part of set-up; the
  * measured loop then repeats whole cycles until the run's time is up.
  */
trait Probe {
  def name: String
  def generate(seed: Long, dir: String): Unit
  def build(h: Harness): Unit
  def cycle(h: Harness, c: Int): Unit
  def finish(h: Harness): Unit
}

/** A probe that is also an end-to-end workload of its own. */
trait Workload extends Probe {
  /** Source tables the traced run scans for the `sources.*` metrics. */
  def sources(spark: SparkSession): Seq[DataFrame]
  /** Name of the quality tally reported as the `recall` metric. */
  def recallTally: String
  /** What `items_per_s` counts. */
  def itemsLabel: String
}

object Workload {
  /** The end-to-end workloads. */
  val all: Seq[String] = Seq("search_batch", "corpus_dedup")

  def apply(name: String): Workload = name match {
    case "search_batch" => new SearchBatch
    case "corpus_dedup" => new CorpusDedup
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${all.mkString(", ")}")
  }

  val Dim = 64

  def queryDF(spark: SparkSession, qs: Gen.Vectors): DataFrame = {
    val rows = qs.ids.indices.map(i => Row(qs.ids(i), qs.vecs(i).toSeq))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("q_embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false)))))
  }

  /** (query_id → ranked (vec_id, score)) from a top-k result frame. */
  def ranked(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._2).map(x => (x._3, x._4)).toSeq }

  /** Cells probed by the IVF search for `q`: best `nProbe` centroids by
    * cosine, ties to the lower cell.
    */
  def probedCells(centroids: Array[(Int, Array[Double])], q: Array[Float],
      nProbe: Int): Seq[Int] =
    centroids.map { case (c, v) => (c, Oracle.cosine(v.map(_.toFloat), q)) }
      .sortBy { case (c, s) => (-s, c) }.take(nProbe).map(_._1).toSeq
}

/** Batches of 16 query vectors, top-10 cosine, alternating exact
  * `Search.topKMany` and IVF `KMeansIndex.searchMany` over one index
  * built per run.
  */
final class SearchBatch extends Workload {
  val name = "search_batch"
  val N = 2000
  val Batch = 16
  val Batches = 8
  val Cells = 16
  val NProbe = 4
  private var corpus: Gen.Vectors = _
  private var queries: Gen.Vectors = _
  private var dir: String = _
  private var index: KMeansIndex.Index = _
  private var centroids: Array[(Int, Array[Double])] = _
  private var cellSize: Map[Int, Long] = Map.empty
  private lazy val rows = corpus.ids.zip(corpus.vecs).toSeq

  def itemsLabel = "query vectors answered"
  def recallTally = "recall_at_10"

  def generate(seed: Long, dir: String): Unit = {
    this.dir = dir
    val rng = new java.util.Random(seed)
    val cs = Gen.centres(rng, 32, Workload.Dim)
    corpus = Gen.clustered(rng, cs, N, 0.1, 0L)
    queries = Gen.clustered(rng, cs, Batch * Batches, 0.1, 0L)
    Gen.writeVectors(corpus, dir)
  }

  def sources(spark: SparkSession): Seq[DataFrame] = Seq(Tables.embeddings(spark, dir))

  private def batch(b: Int): Gen.Vectors =
    queries.slice((b % Batches) * Batch, (b % Batches + 1) * Batch)


  def build(h: Harness): Unit = {
    val emb = Tables.embeddings(h.spark, dir)
    index = h.tracer.call("KMeansIndex.build")(KMeansIndex.build(emb, Cells, h.seed))
    h.tracer.exec("KMeansIndex.build")(h.noop(index.assigned))
    centroids = index.centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    if (h.tracer.enabled)
      cellSize = index.assigned.groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  def cycle(h: Harness, c: Int): Unit = {
    val emb = Tables.embeddings(h.spark, dir)
    val qa = batch(2 * c)
    val exact = h.op("Search.topKMany", "search", Batch) {
      val df = h.tracer.call("Search.topKMany")(
        Search.topKMany(emb, Workload.queryDF(h.spark, qa), "cosine", 10))
      h.tracer.exec("Search.topKMany")(df.collect())
    }
    exact.foreach { rows0 =>
      val got = Workload.ranked(rows0)
      qa.ids.indices.foreach { i =>
        val want = Oracle.topK(rows, qa.vecs(i), 10)
        h.check(got.getOrElse(qa.ids(i), Nil) == want,
          s"topKMany query ${qa.ids(i)}: engine ${got.get(qa.ids(i))} != brute force $want")
      }
    }
    val qb = batch(2 * c + 1)
    val ivf = h.op("KMeansIndex.searchMany", "search", Batch) {
      val df = h.tracer.call("KMeansIndex.searchMany")(
        KMeansIndex.searchMany(index, Workload.queryDF(h.spark, qb), 10, NProbe))
      h.tracer.exec("KMeansIndex.searchMany")(df.collect())
    }
    ivf.foreach { rows0 =>
      val got = Workload.ranked(rows0)
      var scored = 0L
      qb.ids.indices.foreach { i =>
        val want = Oracle.topK(rows, qb.vecs(i), 10).map(_._1).toSet
        val g = got.getOrElse(qb.ids(i), Nil)
        h.check(g.size == 10, s"searchMany query ${qb.ids(i)} returned ${g.size} rows")
        h.tally("recall_at_10", g.count(x => want.contains(x._1)), want.size)
        scored += Workload.probedCells(centroids, qb.vecs(i), NProbe)
          .map(cellSize.getOrElse(_, 0L)).sum
      }
      h.note("KMeansIndex.searchMany.rows_scored_ratio", scored.toDouble / (Batch.toLong * N))
    }
  }

  def finish(h: Harness): Unit = ()
}

/** Whole-corpus curation calls rotating over equal, disjoint shards of
  * a Zipfian corpus with planted near-duplicate groups. `dup_recall` is
  * measured once per run, untimed, over further shards of the same kind:
  * enough planted pairs that the recall of one seed stays close to
  * another's.
  */
final class CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val Shards = 4
  val ShardDocs = 500
  val RecallShards = 12
  val Threshold = 0.5
  private var shards: Array[Gen.Corpus] = _
  private var recallShards: Array[Gen.Corpus] = _
  private var dir: String = _
  private def shardDir(i: Int) = f"$dir/shard_$i%02d"
  private def recallDir = s"$dir/recall"

  def itemsLabel = "documents processed"
  def recallTally = "dup_recall"

  def generate(seed: Long, dir: String): Unit = {
    this.dir = dir
    val rng = new java.util.Random(seed)
    val all = Array.tabulate(Shards + RecallShards)(i =>
      Gen.corpus(rng, ShardDocs, i.toLong * 1000000L, dupShare = 0.3))
    shards = all.take(Shards)
    recallShards = all.drop(Shards)
    shards.indices.foreach(i =>
      Gen.writeDocs(shards(i).docs.toSeq, shardDir(i)))
    Gen.writeDocs(recallShards.flatMap(_.docs).toSeq, recallDir)
  }

  def sources(spark: SparkSession): Seq[DataFrame] =
    (0 until Shards).map(i => Tables.documents(spark, shardDir(i)))


  /** The store is the sharded corpus on disk: ready once every shard
    * has been scanned.
    */
  def build(h: Harness): Unit =
    (0 until Shards).foreach(i => h.tracer.exec("sources.Tables.documents")(
      h.noop(Tables.documents(h.spark, shardDir(i)))))

  private def shingleSets(cs: Seq[Gen.Corpus]): Map[Long, Set[String]] =
    cs.flatMap(_.docs.map(d => d.id -> Gen.shingles(d.text))).toMap

  private lazy val shardShingles: Array[Map[Long, Set[String]]] =
    shards.map(c => shingleSets(Seq(c)))

  private def checkPairs(h: Harness, what: String, sh: Map[Long, Set[String]],
      rows: Array[Row]): Set[(Long, Long)] = {
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    pairs.foreach { case (a, b) =>
      val j = Oracle.round6(Gen.jaccard(sh(a), sh(b)))
      h.check(a < b && j >= Threshold, s"$what pair ($a,$b) has exact Jaccard $j < $Threshold")
    }
    pairs.toSet
  }

  private def planted(cs: Seq[Gen.Corpus]): Set[(Long, Long)] =
    cs.flatMap(_.planted).filter(p => Oracle.round6(p.jaccard) >= Threshold)
      .map(p => (p.a, p.b)).toSet

  def cycle(h: Harness, c: Int): Unit = {
    val s0 = c % Shards
    val docs0 = Tables.documents(h.spark, shardDir(s0))
    h.op("CorpusPipeline.clean", "job", ShardDocs) {
      val cl = h.tracer.call("CorpusPipeline.clean")(CorpusPipeline.clean(docs0, Threshold))
      val n = Seq("quality" -> cl.afterQuality, "exact" -> cl.afterExact,
          "near_dup" -> cl.afterNearDup).map { case (stage, df) =>
        val k = h.tracer.exec(s"CorpusPipeline.clean.$stage")(df.count())
        if (h.tracer.enabled)
          h.note(s"CorpusPipeline.clean.$stage.stage_s", h.tracer.spans.last.seconds)
        h.note(s"CorpusPipeline.clean.$stage.rows", k.toDouble)
        k
      }
      h.check(n.head <= ShardDocs && n(1) <= n.head && n(2) <= n(1) && n(2) > 0,
        s"clean survivor counts not monotone: $ShardDocs -> ${n.mkString(" -> ")}")
    }

    val s1 = (c + 1) % Shards
    val docs1 = Tables.documents(h.spark, shardDir(s1))
    h.op("Dedup.minhashLshPairs", "job", ShardDocs) {
      val df = h.tracer.call("Dedup.minhashLshPairs")(Dedup.minhashLshPairs(docs1, Threshold))
      h.tracer.exec("Dedup.minhashLshPairs")(df.collect())
    }.foreach { rows =>
      val found = checkPairs(h, "minhashLshPairs", shardShingles(s1), rows)
      h.note("Dedup.minhashLshPairs.pairs", found.size)
      if (h.tracer.enabled) {
        val cands = h.tracer.call("Dedup.lshCandidates")(Dedup.lshCandidates(docs1).count())
        h.note("Dedup.lsh_precision", if (cands == 0) 0.0 else found.size.toDouble / cands)
      }
    }

    val s2 = (c + 2) % Shards
    val docs2 = Tables.documents(h.spark, shardDir(s2))
    h.op("Dedup.ngramJaccardPairs", "job", ShardDocs) {
      val df = h.tracer.call("Dedup.ngramJaccardPairs")(Dedup.ngramJaccardPairs(docs2, Threshold))
      h.tracer.exec("Dedup.ngramJaccardPairs")(df.collect())
    }.foreach { rows =>
      val found = checkPairs(h, "ngramJaccardPairs", shardShingles(s2), rows)
      val missed = planted(Seq(shards(s2))).filterNot(found.contains)
      h.check(missed.isEmpty, s"ngramJaccardPairs (exact) missed planted pairs ${missed.take(5)}")
    }
  }

  def finish(h: Harness): Unit = {
    val rows = Dedup.minhashLshPairs(Tables.documents(h.spark, recallDir), Threshold).collect()
    val found = checkPairs(h, "minhashLshPairs (recall shards)", shingleSets(recallShards), rows)
    val want = planted(recallShards)
    h.tally("dup_recall", want.count(found.contains), want.size)
  }
}

/** Persisted IVF and BM25 layouts under ingest: append small batches,
  * probe-search between appends, compact after every second append.
  * Runs as a traced layer probe of `search_batch`, not as an end-to-end
  * workload of its own: a third workload's runs would not fit the
  * benchmark's time budget.
  */
final class IndexIngest extends Probe {
  val name = "index_ingest"
  val BaseVecs = 4000
  val AppendVecs = 500
  val BaseDocs = 1000
  val AppendDocs = 100
  val Appends = 4
  val Cells = 8
  val NProbe = 4
  val PerCompaction = 2
  private var dir: String = _
  private var vecs: Gen.Vectors = _
  private var probes: Gen.Vectors = _
  private var docs: Gen.Corpus = _
  private var terms: Array[Seq[String]] = _
  private var vecsIn = 0
  private var docsIn = 0
  private var appended = 0
  private var maxSpaceAmp = 0.0
  private var inputBytesPerVec = 0.0
  private var inputBytesPerDoc = 0.0
  private def ivf = s"$dir/layout/ivf"
  private def bm25 = s"$dir/layout/bm25"

  def generate(seed: Long, dir: String): Unit = {
    this.dir = dir
    val rng = new java.util.Random(seed)
    val cs = Gen.centres(rng, 32, Workload.Dim)
    vecs = Gen.clustered(rng, cs, BaseVecs + Appends * AppendVecs, 0.1, 0L)
    probes = Gen.clustered(rng, cs, 64, 0.1, 0L)
    docs = Gen.corpus(rng, BaseDocs + Appends * AppendDocs, 0L, dupShare = 0.0)
    // BM25 queries: two or three words drawn from the first 500 documents
    val vocab = docs.docs.take(500).flatMap(_.text.split(" ")).distinct.filter(_.length >= 2)
    terms = Array.fill(64)(Seq.fill(2 + rng.nextInt(2))(vocab(rng.nextInt(vocab.length))).distinct)
    Gen.writeVectors(vecs, dir)
    Gen.writeDocs(docs.docs.toSeq, dir)
    inputBytesPerVec = Oracle.du(java.nio.file.Paths.get(s"$dir/embeddings.parquet"))._1.toDouble / vecs.size
    inputBytesPerDoc = Oracle.du(java.nio.file.Paths.get(s"$dir/documents.parquet"))._1.toDouble / docs.docs.length
  }

  private def vecRange(from: Int, until: Int) =
    Tables.embeddings(SparkSession.active, dir)
      .filter(col("vec_id") >= from.toLong && col("vec_id") < until.toLong)
  private def docRange(from: Int, until: Int) =
    Tables.documents(SparkSession.active, dir)
      .filter(col("doc_id") >= from.toLong && col("doc_id") < until.toLong)


  def build(h: Harness): Unit = {
    val base = vecRange(0, BaseVecs)
    val index = h.tracer.call("KMeansIndex.build")(KMeansIndex.build(base, Cells, h.seed))
    h.tracer.call("KMeansIndex.persist")(KMeansIndex.persist(index, ivf))
    h.tracer.call("InvertedIndex.build")(InvertedIndex.build(docRange(0, BaseDocs), bm25))
    vecsIn = BaseVecs
    docsIn = BaseDocs
    measureSpace()
  }

  private def measureSpace(): Unit = {
    val bytes = Oracle.du(java.nio.file.Paths.get(ivf))._1 + Oracle.du(java.nio.file.Paths.get(bm25))._1
    maxSpaceAmp = math.max(maxSpaceAmp,
      bytes / (vecsIn * inputBytesPerVec + docsIn * inputBytesPerDoc))
  }

  def spaceAmp: Double = maxSpaceAmp

  private lazy val vecRows = vecs.ids.zip(vecs.vecs)
  private lazy val docTokens: Array[Array[String]] = docs.docs.map(_.text.trim.split("\\s+"))

  /** Committed IVF branches, listed by the benchmark itself. */
  private def ivfBranches(): Seq[String] = {
    val b = new java.io.File(s"$ivf/batches")
    val batches = Option(b.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists).map(_.getPath).sorted
    s"$ivf/cells" +: batches
  }

  private def bm25Branches(): Seq[String] = {
    val b = new java.io.File(s"$bm25/batches")
    Option(b.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && new java.io.File(f, "_COMMITTED").exists).map(_.getPath).sorted
  }

  /** Row conservation, read straight from the layout files. */
  private def checkConservation(h: Harness, when: String): Unit = {
    val cells = ivfBranches().map(d => h.spark.read.option("basePath", d).parquet(d))
      .reduce(_.unionByName(_))
      .agg(count(lit(1)), countDistinct(col("vec_id")),
        min(col("vec_id")), max(col("vec_id"))).head()
    h.check(cells.getLong(0) == vecsIn && cells.getLong(1) == vecsIn &&
        cells.getLong(2) == 0L && cells.getLong(3) == vecsIn - 1L,
      s"IVF layout $when: ${cells.getLong(0)} rows / ${cells.getLong(1)} distinct, expected $vecsIn")
    val nDocs = (s"$bm25/stats" +: bm25Branches().map(b => s"$b/stats"))
      .map(p => h.spark.read.parquet(p).agg(sum(col("n_docs"))).head().getLong(0)).sum
    h.check(nDocs == docsIn, s"BM25 layout $when: stats count $nDocs docs, expected $docsIn")
  }

  /** BM25 over the first `n` documents, computed as the engine defines
    * it (per-term scores rounded to 9 dp and summed exactly, the total
    * rounded to 6 dp), top-k by score then doc_id.
    */
  private def bm25Oracle(q: Seq[String], n: Int, k: Int): Seq[(Long, Double)] = {
    val (k1, b) = (1.2, 0.75)
    val toks = docTokens.take(n)
    val sumDl = toks.map(_.length.toLong).sum
    val avgdl = sumDl.toDouble / n
    val tfs = toks.map(ws => q.map(t => t -> ws.count(_ == t).toLong).toMap)
    val df = q.map(t => t -> tfs.count(_(t) > 0).toLong).toMap
    tfs.indices.flatMap { i =>
      val dl = toks(i).length.toLong
      val hit = q.filter(tfs(i)(_) > 0)
      if (hit.isEmpty) None
      else {
        val acc = hit.map { t =>
          val tf = tfs(i)(t)
          val s = StrictMath.log(((n - df(t)) + 0.5) / (df(t) + 0.5) + 1.0) * (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * dl / avgdl))
          java.math.BigDecimal.valueOf(s).setScale(9, java.math.RoundingMode.HALF_UP)
        }.reduce(_.add(_))
        Some((docs.docs(i).id, Oracle.round6(acc.doubleValue)))
      }
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean = {
    val wantScore = want.toMap
    got.size == want.size &&
      got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) <= 2e-6 } &&
      got.forall { case (id, s) => wantScore.get(id).forall(w => math.abs(w - s) <= 2e-6) }
  }

  def cycle(h: Harness, c: Int): Unit = {
    for (j <- 0 until PerCompaction) {
      val a = appended % Appends
      val (v0, d0) = (BaseVecs + a * AppendVecs, BaseDocs + a * AppendDocs)
      val q = (c * PerCompaction + j) % probes.size
      // past the last prepared batch the loop keeps searching and compacting
      if (appended < Appends) {
        h.op("KMeansIndex.appendPersisted", "write", AppendVecs) {
          h.tracer.call("KMeansIndex.appendPersisted")(
            KMeansIndex.appendPersisted(h.spark, ivf, vecRange(v0, v0 + AppendVecs)))
        }.foreach(_ => vecsIn += AppendVecs)
        if (h.tracer.enabled) {
          val files = Oracle.du(java.nio.file.Paths.get(s"$ivf/batches"))._2
          h.note("KMeansIndex.appendPersisted.files_written", files - lastBatchFiles)
          lastBatchFiles = files
        }
      }
      h.op("KMeansIndex.searchPersisted", "search", 1) {
        val df = h.tracer.call("KMeansIndex.searchPersisted")(
          KMeansIndex.searchPersisted(h.spark, ivf, probes.vecs(q), 10, NProbe))
        h.tracer.exec("KMeansIndex.searchPersisted")(df.collect())
      }.foreach { rows =>
        val want = Oracle.topK(vecRows.take(vecsIn), probes.vecs(q), 10)
        val wantIds = want.map(_._1).toSet
        val byId = vecRows.take(vecsIn).toMap
        rows.foreach { r =>
          val id = r.getAs[Long]("vec_id")
          h.check(byId.get(id).exists(v => Oracle.round6(Oracle.cosine(v, probes.vecs(q))) ==
              r.getAs[Double]("score")), s"searchPersisted returned a wrong score for vec $id")
        }
        h.check(rows.length == 10, s"searchPersisted returned ${rows.length} rows")
        h.tally("persisted_recall_at_10", rows.count(r => wantIds.contains(r.getAs[Long]("vec_id"))), 10)
        h.note("KMeansIndex.searchPersisted.dirs_scanned", ivfBranches().size)
      }
      if (appended < Appends) {
        h.op("InvertedIndex.appendBatch", "write", AppendDocs) {
          h.tracer.call("InvertedIndex.appendBatch")(
            InvertedIndex.appendBatch(docRange(d0, d0 + AppendDocs), bm25))
        }.foreach(_ => docsIn += AppendDocs)
        appended += 1
      }
      bm25Search(h, terms(q))
      measureSpace()
    }
    h.op("KMeansIndex.compactPersisted", "maintenance", 0) {
      h.tracer.call("KMeansIndex.compactPersisted")(KMeansIndex.compactPersisted(h.spark, ivf))
    }
    lastBatchFiles = Oracle.du(java.nio.file.Paths.get(s"$ivf/batches"))._2
    h.op("InvertedIndex.compact", "maintenance", 0) {
      h.tracer.call("InvertedIndex.compact")(InvertedIndex.compact(h.spark, bm25))
    }
    checkConservation(h, s"after compaction $c")
  }

  private var lastBatchFiles = 0

  private def bm25Search(h: Harness, q: Seq[String]): Unit =
    h.op("InvertedIndex.search", "search", 1) {
      val df = h.tracer.call("InvertedIndex.search")(InvertedIndex.search(h.spark, q, 10, bm25))
      h.tracer.exec("InvertedIndex.search")(df.collect())
    }.foreach { rows =>
      val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
      val want = bm25Oracle(q, docsIn, 10)
      h.check(sameRanking(got, want), s"InvertedIndex.search $q: engine $got != oracle $want")
    }

  def finish(h: Harness): Unit = checkConservation(h, "at the end")
}

/** The paper's own API: a `VectorFieldDB` session. Bulk load, then point
  * reads, embedding updates, deletes, filtered and unfiltered search,
  * and a periodic φ auto-clustering with a hash verification. Runs as a
  * traced layer probe of `search_batch` (see [[IndexIngest]]). The
  * store's frames are local checkpoints, which the cache clear after
  * every op leaves in place.
  */
final class VfdbSession extends Probe {
  val name = "vfdb_session"
  val Glyphs = 5000
  private var dir: String = _
  private var vecs: Gen.Vectors = _
  private var pool: Gen.Vectors = _
  private var rng: java.util.Random = _
  private var db: VectorFieldDB = _
  private val live = scala.collection.mutable.LinkedHashMap[String, Array[Float]]()
  private val pglyphIds = scala.collection.mutable.ArrayBuffer[String]()
  private var liveIds: IndexedSeq[String] = IndexedSeq.empty
  private var next = 0

  private def idOf(v: Long) = f"ig-$v%08d"
  private def ctxOf(id: String) = (id.drop(3).toLong % 10).toInt

  def generate(seed: Long, dir: String): Unit = {
    this.dir = dir
    rng = new java.util.Random(seed)
    val cs = Gen.centres(rng, 32, Workload.Dim)
    vecs = Gen.clustered(rng, cs, Glyphs, 0.1, 0L)
    pool = Gen.clustered(rng, cs, 4096, 0.1, 0L)
    Gen.writeVectors(vecs, dir)
  }

  private def glyphRows(emb: DataFrame): DataFrame =
    emb.select(format_string("ig-%08d", col("vec_id")).as("iglyph_id"),
      (col("vec_id") % 144000L).cast("int").as("glyph_id"),
      (col("vec_id") % 10L).cast("int").as("outer_context_id"),
      col("embedding"), lit("").as("label"), lit(null).cast("string").as("proto_id"),
      lit("{}").as("meta"), lit("1.0.0").as("version"),
      lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("timestamp"))


  def build(h: Harness): Unit = {
    db = new VectorFieldDB(h.spark, Workload.Dim)
    val n = h.tracer.call("VectorFieldDB.addIGlyphsDF")(
      db.addIGlyphsDF(glyphRows(Tables.embeddings(h.spark, dir))))
    vecs.ids.indices.foreach(i => live(idOf(vecs.ids(i))) = vecs.vecs(i))
    liveIds = live.keys.toIndexedSeq
    require(n == Glyphs, s"bulk load added $n rows, expected $Glyphs")
  }

  private def pick(): String = liveIds(rng.nextInt(liveIds.size))

  private def searchOp(h: Harness, ctx: Option[Int]): Unit = {
    val q = pool.vecs(next % pool.size); next += 1
    val op = if (ctx.isEmpty) "VectorFieldDB.search" else "VectorFieldDB.search_ctx"
    h.op(op, "search", 0) {
      h.tracer.call(op)(db.search(q, 10, ctxFilter = ctx)
        .select("iglyph_id", "score").collect())
    }.foreach { rows =>
      val cand = live.iterator.filter { case (id, _) => ctx.forall(_ == ctxOf(id)) }
        .map { case (id, v) => (id, Oracle.cosine(v, q)) }.toSeq
        .sortBy { case (id, s) => (-s, id) }.take(10)
      val got = rows.map(r => (r.getString(0), r.getDouble(1))).toSeq
      h.check(got.map(_._1) == cand.map(_._1) &&
          got.zip(cand).forall { case (g, w) => math.abs(g._2 - w._2) <= 1e-12 },
        s"VectorFieldDB.search ctx=$ctx: engine $got != brute force $cand")
      h.tally("search_recall_at_10", got.map(_._1).toSet.intersect(cand.map(_._1).toSet).size,
        cand.size)
    }
    h.note("VectorFieldDB.plan_nodes",
      db.iglyphs.queryExecution.optimizedPlan.collect { case p => p }.size)
  }

  private def getOp(h: Harness): Unit = {
    val id = pick()
    h.op("VectorFieldDB.get", "search", 0) {
      h.tracer.call("VectorFieldDB.get")(db.getIGlyph(id))
    }.foreach(g => h.check(g.exists(_.embedding.sameElements(live(id))),
      s"getIGlyph($id) does not return the expected embedding"))
  }

  def cycle(h: Harness, c: Int): Unit = {
    for (_ <- 0 until 2) {
      getOp(h)
      val uid = pick()
      val v = pool.vecs(next % pool.size); next += 1
      h.op("VectorFieldDB.update", "write", 1) {
        h.tracer.call("VectorFieldDB.update")(db.updateIGlyphEmbedding(uid, v))
      }.foreach(_ => live(uid) = v)
      searchOp(h, None)
      getOp(h)
      val did = pick()
      h.op("VectorFieldDB.delete", "write", 1) {
        h.tracer.call("VectorFieldDB.delete")(db.deleteIGlyph(did))
      }.foreach { _ => live.remove(did); liveIds = live.keys.toIndexedSeq }
      searchOp(h, Some(c % 10))
    }
    h.op("VectorFieldDB.autoClusterPhiBatch", "maintenance", 1) {
      h.tracer.call("VectorFieldDB.autoClusterPhiBatch")(db.autoClusterPhiBatch(c % 10, c % 10))
    }.foreach(pglyphIds ++= _)
    h.op("VectorFieldDB.verifyHash", "maintenance", 0) {
      h.tracer.call("VectorFieldDB.verifyHash")(db.verifyHash())
    }.foreach { got =>
      val want = Oracle.membershipHash(live.keys, pglyphIds)
      h.check(got == want && db.currentHash == want,
        s"verifyHash $got / current ${db.currentHash} != expected $want")
    }
  }

  def finish(h: Harness): Unit = {
    val n = db.iglyphs.count()
    h.check(n == live.size, s"VectorFieldDB holds $n iglyphs, expected ${live.size}")
    val p = db.pglyphs.count()
    h.check(p == pglyphIds.size, s"VectorFieldDB holds $p pglyphs, expected ${pglyphIds.size}")
  }
}
