package graft

import graft.Harness.Ratchet
import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness the runnable mains share: the core-count
  * parse, the downward ratchet's fold and on-disk format, and the rule
  * that a failed query is never a timing.
  */
class HarnessSpec extends AnyFunSuite {

  private def tmpFile(content: String): String = {
    val p = java.nio.file.Files.createTempFile("ratchet", ".json")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("SPARK_GRAFT_CPUS: a positive integer or an error") {
    for (bad <- Seq("*", "0", "-3", "", "4.0"))
      intercept[IllegalArgumentException](Harness.parseCpus(bad))
    assert(Harness.parseCpus("4") == 4)
  }

  test("ratchet fold: downward-only, drops absent keys, stamps only lowered rows") {
    val (ref, cal) = (
      tmpFile("""{"fast":1.000,"gone":2.000,"slow":3.000,"unstamped":4.000}"""),
      tmpFile("""{"fast":0.500,"gone":0.500,"slow":0.600}"""))
    val r = Ratchet.read(ref, cal)
    val run = Map("fast" -> Some(0.8), "slow" -> Some(3.5),
      "unstamped" -> Some(4.5), "new" -> Some(1.5))
    r.fold(run, hostCal = 0.7).write(ref, cal)
    val back = Ratchet.read(ref, cal)
    assert(back.best == Map("fast" -> 0.8, "slow" -> 3.0, "unstamped" -> 4.0,
      "new" -> 1.5), "min of old and new per key; `gone` was not run")
    assert(back.cal == Map("fast" -> 0.7, "slow" -> 0.6, "new" -> 0.7),
      "this run's calibration only on the rows it lowered or added")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ref)), "UTF-8") ==
      "{\"fast\":0.800,\"new\":1.500,\"slow\":3.000,\"unstamped\":4.000}\n")
  }

  test("ratchet norm: (v/ref)*(ref_cal/host_cal), seed 0.40 for unstamped rows") {
    val r = Ratchet(Map("a" -> 2.0, "b" -> 2.0), Map("a" -> 0.8))
    assert(math.abs(r.norm("a", 3.0, 0.4).get - (3.0 / 2.0) * (0.8 / 0.4)) < 1e-12)
    assert(math.abs(r.norm("b", 3.0, 0.8).get - (3.0 / 2.0) * (0.40 / 0.8)) < 1e-12)
    assert(r.norm("c", 3.0, 0.4).isEmpty)
    assert(math.abs(r.onHost(0.8)("b") - 2.0 * 0.8 / 0.40) < 1e-12)
  }

  test("a query that throws is no timing and never lowers its ratchet row") {
    val spark = SparkTestSession.spark
    val ran = Harness.timed(spark, "boom", 3)(
      spark.sql("SELECT raise_error('boom')").collect())
    assert(ran.isEmpty, "time-to-failure must not come back as a timing")
    val r = Ratchet(Map("boom" -> 5.0, "ok" -> 5.0), Map("boom" -> 0.5))
    val folded = r.fold(Map("boom" -> ran.map(_.min),
      "ok" -> Harness.timed(spark, "ok", 2)(spark.range(10).collect()).map(_.min)),
      hostCal = 0.3)
    assert(folded.best("boom") == 5.0 && folded.cal("boom") == 0.5,
      "the failed row keeps its best and the calibration that set it")
    assert(folded.best("ok") < 5.0 && folded.cal("ok") == 0.3)
    assert(Harness.failedJson(Seq("boom")) == ""","failed":["boom"]""")
    assert(Harness.failedJson(Nil) == "")
  }

  test("committed ratchet files read as the per-main readers read them") {
    def parentRead(path: String, key: String): Map[String, Double] =
      s""""($key)":([0-9.]+)""".r
        .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    for (f <- Seq("bench_ref_sf0.1.json", "bench_ref_cal_sf0.1.json")) {
      val got = Ratchet.readFlat(f)
      assert(got.nonEmpty && got == parentRead(f, "[A-Za-z0-9_]+"), f)
    }
    val ann = Ratchet.readFlat("ann_ref.json")
    assert(ann.keySet.exists(_.contains("[")) && ann == parentRead("ann_ref.json", "[^\"]+"))
    assert(Ratchet.readFlat("no_such_ratchet.json").isEmpty)
  }
}
