package servebench

import scala.util.Random

/** One generated record, as the benchmark tracks it. */
final case class Rec(id: String, vec: Array[Float], cat: String, year: Int,
    doc: String) {
  /** Bytes of user data the record carries: id, document, metadata values
    * and the float32 embedding. The denominator of the storage ratios.
    */
  def userBytes: Long =
    id.getBytes("UTF-8").length + doc.getBytes("UTF-8").length +
      cat.getBytes("UTF-8").length + 8L + 4L * vec.length
}

/** Seeded payload generator with exact ground truth.
  *
  * Vectors come from a Gaussian mixture of `Centres` centres in `Dim`
  * dimensions; every record carries metadata `cat` (20 values) and `year`
  * (an int) and a short document. Each consumer draws from its own named
  * stream, so a client's request sequence depends only on the seed and
  * the stream name, never on how requests from different clients
  * interleave. Query vectors are fresh draws that never repeat, so no
  * request can be answered from a result cache.
  */
final class Gen(val seed: Long) {
  import Gen._

  def stream(name: String): Random =
    new Random(seed * 1000003L ^ name.hashCode.toLong)

  val centres: Array[Array[Float]] = {
    val r = stream("centres")
    Array.fill(Centres)(Array.fill(Dim)(r.nextGaussian().toFloat))
  }

  def vector(r: Random): Array[Float] = {
    val c = centres(r.nextInt(Centres))
    Array.tabulate(Dim)(i => (c(i) + Spread * r.nextGaussian()).toFloat)
  }

  def cat(r: Random): String = f"c${r.nextInt(Cats)}%02d"

  def record(r: Random, id: String, version: Int): Rec = {
    val words = Seq.fill(4)(Words(r.nextInt(Words.length))).mkString(" ")
    Rec(id, vector(r), cat(r), 1990 + r.nextInt(35), s"$id v$version $words")
  }

  /** The `n` records every workload starts from. */
  def base(n: Int): Seq[Rec] = {
    val r = stream("base")
    (0 until n).map(i => record(r, idOf(i), 0))
  }
}

object Gen {
  val Dim = 64
  val Centres = 32
  val Cats = 20
  val Spread = 0.35
  val Words: Array[String] = ("amber basil cedar delta ember fjord grove harbor " +
    "iris juniper kelp lumen maple nectar onyx pebble quartz river sable " +
    "tundra umber violet willow xenon yarrow zephyr").split(" ")

  def idOf(i: Int): String = f"r$i%07d"

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    1.0 - dot / math.sqrt(na * nb)
  }

  /** Exact cosine top-`k` ids over `recs`, nearest first. */
  def topK(q: Array[Float], recs: Iterable[Rec], k: Int): Seq[String] =
    recs.iterator.map(r => (cosine(q, r.vec), r.id)).toSeq
      .sortBy(identity).take(k).map(_._2)
}
