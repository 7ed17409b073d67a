package perfbench


/** Seeded input generator, in the engine's table schemas: embeddings
  * `(vec_id: long, embedding: array<float>)` and documents
  * `(doc_id: long, source: string, text: string)`. Everything derives
  * from one `java.util.Random` per call, so a seed fixes every byte of
  * the input and the benchmark's oracles see exactly what the engine
  * reads.
  */
object Gen {

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]]) {
    def size: Int = ids.length
    def slice(from: Int, until: Int): Vectors =
      Vectors(ids.slice(from, until), vecs.slice(from, until))
  }

  /** Cluster centres on the unit sphere; points are drawn around them. */
  def centres(rng: java.util.Random, clusters: Int, dim: Int): Array[Array[Double]] =
    Array.fill(clusters)(normalize(Array.fill(dim)(rng.nextGaussian())))

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** `n` L2-normalized points around `centres` (Gaussian noise of
    * `spread` per dimension), ids from `idBase`, stored as floats like
    * the engine's `embeddings` table.
    */
  def clustered(rng: java.util.Random, centres: Array[Array[Double]], n: Int,
      spread: Double, idBase: Long): Vectors = {
    val dim = centres.head.length
    val vecs = Array.fill(n) {
      val c = centres(rng.nextInt(centres.length))
      normalize(Array.tabulate(dim)(d => c(d) + spread * rng.nextGaussian())).map(_.toFloat)
    }
    Vectors(Array.tabulate(n)(i => idBase + i), vecs)
  }

  final case class Doc(id: Long, source: String, text: String)

  /** A planted near-duplicate pair with its exact 3-shingle Jaccard. */
  final case class Pair(a: Long, b: Long, jaccard: Double)

  final case class Corpus(docs: Array[Doc], planted: Array[Pair])

  /** The eight stopwords the engine's quality gate looks for; they take
    * the top Zipf ranks, as in real text.
    */
  private val stopwords = Array("the", "a", "and", "of", "to", "is", "in", "it")

  private def word(rank: Int): String =
    if (rank < stopwords.length) stopwords(rank)
    else {
      val sb = new StringBuilder
      var r = rank
      while (r > 0) { sb += ('a' + r % 26).toChar; r /= 26 }
      sb.toString
    }

  final class Zipf(vocab: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail
    }
    def sample(rng: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
  }

  /** Distinct word 3-shingles, tokenized as the engine does
    * (`split(trim(text), "\\s+")`).
    */
  def shingles(text: String): Set[String] = {
    val ws = text.trim.split("\\s+")
    if (ws.length < 3) Set.empty
    else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** `n` documents from `idBase`: Zipfian words over a `vocab`-word
    * vocabulary, log-normal lengths (12–600 words), four sources.
    * About `dupShare` of them are planted near-duplicate variants
    * (each base word replaced with probability 2, 5 or 10%) or exact
    * copies of an earlier document; every pair inside a planted group
    * is returned with its exact Jaccard.
    */
  def corpus(rng: java.util.Random, n: Int, idBase: Long, vocab: Int = 6000,
      dupShare: Double = 0.15): Corpus = {
    val zipf = new Zipf(vocab, 1.05)
    val words = new Array[Array[Int]](n)
    val group = Array.fill(n)(-1)
    val groups = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < n) {
      if (i > 8 && rng.nextDouble() < dupShare) {
        val base = rng.nextInt(i)
        val g = if (group(base) >= 0) group(base) else {
          groups += scala.collection.mutable.ArrayBuffer(base); group(base) = groups.size - 1
          groups.size - 1
        }
        val src = words(groups(g).head)
        val p = Array(0.0, 0.02, 0.05, 0.10)(rng.nextInt(4))
        words(i) = src.map(w => if (p > 0 && rng.nextDouble() < p) zipf.sample(rng) else w)
        group(i) = g
        groups(g) += i
      } else {
        val len = math.max(12, math.min(600, math.exp(4.3 + 0.7 * rng.nextGaussian()).toInt))
        words(i) = Array.fill(len)(zipf.sample(rng))
      }
      i += 1
    }
    val docs = Array.tabulate(n)(j =>
      Doc(idBase + j, s"src${rng.nextInt(4)}", words(j).map(word).mkString(" ")))
    val planted = groups.toArray.flatMap { g =>
      val sh = g.map(j => j -> shingles(docs(j).text)).toMap
      for (x <- g.indices; y <- x + 1 until g.size) yield {
        val (a, b) = (math.min(g(x), g(y)), math.max(g(x), g(y)))
        Pair(idBase + a, idBase + b, jaccard(sh(a), sh(b)))
      }
    }
    Corpus(docs, planted)
  }

  private val embeddingSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 vec_id;
      |  optional group embedding (LIST) { repeated group list { required float element; } }
      |}""".stripMargin)

  private val documentSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 doc_id;
      |  optional binary source (STRING);
      |  optional binary text (STRING);
      |}""".stripMargin)

  /** `<dir>/embeddings.parquet`: `(vec_id: long, embedding: array<float>)`. */
  def writeVectors(v: Vectors, dir: String): Unit =
    write(s"$dir/embeddings.parquet", embeddingSchema, v.size) { (f, i) =>
      val g = f.newGroup().append("vec_id", v.ids(i))
      val list = g.addGroup("embedding")
      v.vecs(i).foreach(x => list.addGroup("list").append("element", x))
      g
    }

  /** `<dir>/documents.parquet`: `(doc_id: long, source: string, text: string)`. */
  def writeDocs(docs: Seq[Doc], dir: String): Unit =
    write(s"$dir/documents.parquet", documentSchema, docs.size) { (f, i) =>
      f.newGroup().append("doc_id", docs(i).id).append("source", docs(i).source)
        .append("text", docs(i).text)
    }

  /** Write rows `0 until n` as a table the engine's `sources.Tables`
    * reads: eight files of contiguous rows, each in 64 KiB row groups, so
    * a scan spreads over tasks the way a real multi-file table does.
    * Written directly with the parquet library — no Spark job, so input
    * generation stays out of the engine's job and codegen caches.
    */
  private def write(path: String, schema: org.apache.parquet.schema.MessageType, n: Int)(
      row: (org.apache.parquet.example.data.simple.SimpleGroupFactory, Int) =>
        org.apache.parquet.example.data.Group): Unit = {
    val files = 8
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    val conf = new org.apache.hadoop.conf.Configuration()
    for (f <- 0 until files) {
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(f"$path/part-$f%05d.parquet"))
        .withConf(conf).withType(schema)
        .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .withRowGroupSize(64L * 1024).withPageSize(8 * 1024)
        .build()
      try (n.toLong * f / files).toInt.until((n.toLong * (f + 1) / files).toInt)
        .foreach(i => w.write(row(factory, i)))
      finally w.close()
    }
  }
}
