package perfbench

/** Answers the benchmark computes itself, on the JVM, from the inputs it
  * generated — never through the engine under test.
  */
object Oracle {

  /** Cosine as the engine defines it: left-to-right double sums over the
    * float elements, dot / (‖a‖·‖b‖ + 1e-12).
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) { ab += a(i).toDouble * b(i); i += 1 }
    i = 0
    while (i < a.length) { aa += a(i).toDouble * a(i); i += 1 }
    i = 0
    while (i < b.length) { bb += b(i).toDouble * b(i); i += 1 }
    ab / (math.sqrt(aa) * math.sqrt(bb) + 1e-12)
  }

  /** Round half-up to 6 decimals, as the engine's `round(_, 6)`. */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Brute-force top-k over `(id, vector)` rows: 6-dp rounded cosine,
    * descending, ties to the lower id. Returns (id, score).
    */
  def topK(rows: Iterable[(Long, Array[Float])], q: Array[Float], k: Int): Seq[(Long, Double)] =
    rows.iterator.map { case (id, v) => (id, round6(cosine(v, q))) }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)

  /** The membership hash `VectorFieldDB` documents, recomputed from the
    * id sets the benchmark expects: per id, two 60-bit slices of its
    * sha256 hex, folded by XOR and by wrapping sum, per table.
    */
  def membershipHash(iglyphIds: Iterable[String], pglyphIds: Iterable[String]): String = {
    def lanes(ids: Iterable[String]): (Long, Long) = ids.foldLeft((0L, 0L)) {
      case ((x, s), id) =>
        val hex = sha256Hex(id)
        (x ^ java.lang.Long.parseLong(hex.substring(0, 15), 16),
          s + java.lang.Long.parseLong(hex.substring(15, 30), 16))
    }
    val (ix, is) = lanes(iglyphIds)
    val (px, ps) = lanes(pglyphIds)
    sha256Hex(s"""{"iglyphs": [$ix, $is], "pglyphs": [$px, $ps]}""")
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Bytes and regular files under a directory tree (0 if absent). */
  def du(dir: java.nio.file.Path): (Long, Int) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.foldLeft((0L, 0)) { case ((b, n), p) =>
          (b + java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path]), n + 1)
        }
      finally s.close()
    }
}
