package perfbench

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The seeded input generator: one seed reproduces identical inputs,
  * another seed changes them, and planted pairs carry their true
  * Jaccard. No Spark session is needed — inputs are written directly.
  */
class GenSpec extends AnyFunSuite {

  private val genDir = Paths.get("target", "genspec")

  /** The end-to-end workloads and the layer probes, by name. */
  private val generators: Seq[(String, () => Probe)] =
    Workload.all.map(w => w -> (() => Workload(w))) ++
      Seq("index_ingest" -> (() => new IndexIngest), "vfdb_session" -> (() => new VfdbSession))

  private def generated(make: () => Probe, seed: Long, tag: String): Map[String, Seq[Byte]] = {
    val p = make()
    val dir = genDir.resolve(s"${p.name}-$tag")
    Main.deleteTree(dir)
    p.generate(seed, dir.toString)
    val s = Files.walk(dir)
    try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toArray.toSeq
      .map(_.asInstanceOf[Path])
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  for ((w, make) <- generators) {
    test(s"$w: the same seed writes byte-identical input files") {
      val a = generated(make, 7L, "a")
      val b = generated(make, 7L, "b")
      assert(a.nonEmpty)
      assert(a.keySet == b.keySet)
      a.keys.foreach(k => assert(a(k) == b(k), s"$k differs between two runs of seed 7"))
    }

    test(s"$w: another seed changes the inputs") {
      val a = generated(make, 7L, "a")
      val c = generated(make, 8L, "c")
      assert(a.keySet == c.keySet)
      assert(a.keys.exists(k => a(k) != c(k)))
    }
  }

  test("every input file holds several row groups") {
    generated(() => new SearchBatch, 7L, "rg")
    val f = Files.list(genDir.resolve("search_batch-rg").resolve("embeddings.parquet"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toAbsolutePath.toString),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try assert(r.getRowGroups.size >= 2)
    finally r.close()
  }

  test("vectors are L2-normalized and planted pairs carry their exact Jaccard") {
    val rng = new java.util.Random(3L)
    val v = Gen.clustered(rng, Gen.centres(rng, 8, 16), 100, 0.1, 0L)
    v.vecs.foreach { x =>
      val n = math.sqrt(x.map(y => y.toDouble * y).sum)
      assert(math.abs(n - 1.0) < 1e-5)
    }
    val c = Gen.corpus(new java.util.Random(4L), 400, 0L)
    assert(c.planted.nonEmpty)
    val byId = c.docs.map(d => d.id -> d.text).toMap
    c.planted.foreach { p =>
      assert(Gen.jaccard(Gen.shingles(byId(p.a)), Gen.shingles(byId(p.b))) == p.jaccard)
    }
    assert(c.planted.exists(_.jaccard == 1.0), "exact copies are planted")
    assert(c.planted.exists(p => p.jaccard > 0.5 && p.jaccard < 1.0), "near-duplicates are planted")
  }
}
