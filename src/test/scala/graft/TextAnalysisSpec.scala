package graft

import graft.operators.TextStats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-level gates for the text-analysis operators whose formulas are
  * hand-computable on tiny fixtures (the corpus-scale path is gated by the
  * DuckDB oracle — ta_* rows in CORRECTNESS).
  */
class TextAnalysisSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("bigramLmScore matches the hand-computed add-0.5 bigram LM") {
    // tokens: d1=[a,b,a,b]  d2=[a,b,c]
    // transitions: d1 (a,b)x2 (b,a)x1; d2 (a,b) (b,c)
    // corpus: c(a,b)=3 c(b,a)=1 c(b,c)=1; c(a·)=3 c(b·)=2; V=3
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextStats.bigramLmScore(docs)
      .orderBy("doc_id").collect()
    val pAB = 3.5 / 4.5; val pBA = 1.5 / 3.5; val pBC = 1.5 / 3.5
    val h1 = -(2 * math.log(pAB) + math.log(pBA)) / 3
    val h2 = -(math.log(pAB) + math.log(pBC)) / 2
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round2(x: Double): Double =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got.map(_.getLong(1)).toSeq == Seq(3L, 2L))
    assert(got(0).getDouble(2) == round6(h1))
    assert(got(1).getDouble(2) == round6(h2))
    assert(got(0).getDouble(3) == round2(math.exp(h1)))
    assert(got(1).getDouble(3) == round2(math.exp(h2)))
  }

  test("bigramLmScore drops sub-2-token docs and scores dupes identically") {
    val docs = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextStats.bigramLmScore(docs).orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got(0).getDouble(2) == got(1).getDouble(2))
    assert(got(0).getDouble(3) == got(1).getDouble(3))
  }

  test("bigramLmScore equals a pure-Scala LM on random corpora") {
    // independent reference implementation: same add-0.5 bigram LM, built
    // with plain Scala collections, compared at the rounded precision.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Vector("a", "b", "c", "dd", "ee")
    val genDoc = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(words)).map(_.mkString(" ")))
    val genCorpus = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, genDoc))
    (1 to 25).foreach { it =>
      val corpus = genCorpus(Gen.Parameters.default, Seed(it.toLong)).get
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val toks = corpus.map { case (id, t) =>
        id -> t.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
      }.filter(_._2.size >= 2)
      val trans = toks.flatMap { case (id, ts) =>
        ts.zip(ts.tail).map { case (p, w) => (id, p, w) } }
      val expected =
        if (trans.isEmpty) Map.empty[Long, (Long, Double, Double)]
        else {
          val bigC = trans.groupBy(t => (t._2, t._3)).view.mapValues(_.size).toMap
          val prevC = trans.groupBy(_._2).view.mapValues(_.size).toMap
          val v = toks.flatMap(_._2).distinct.size
          toks.map { case (id, ts) =>
            val pairs = ts.zip(ts.tail)
            val h = -pairs.map { case (p, w) =>
              math.log((bigC((p, w)) + 0.5) / (prevC(p) + 0.5 * v))
            }.sum / pairs.size
            id -> ((pairs.size.toLong, h, math.exp(h)))
          }.toMap
        }
      val got = TextStats.bigramLmScore(corpus.toDF("doc_id", "text"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(got.keySet == expected.keySet, s"iter $it")
      got.foreach { case (id, (n, nll, ppl)) =>
        val (en, eh, ep) = expected(id)
        assert(n == en, s"iter $it doc $id n_trans")
        assert(math.abs(nll - eh) < 1e-6, s"iter $it doc $id nll $nll vs $eh")
        assert(math.abs(ppl - ep) < 5e-3 + 1e-9 * ep, s"iter $it doc $id ppl")
      }
    }
  }

  test("scoreWithLm scores unseen transitions at the smoothing floor") {
    // LM fitted on corpus {a b}: c(a,b)=1, cp(a)=1, V=2. An incoming doc
    // "c d" has an unseen context: P = 0.5 / (0 + 0.5*2) = 0.5; "a b"
    // scores (1+0.5)/(1+0.5*2) = 0.75. Nothing drops out of the average.
    val lm = TextStats.bigramLmCounts(
      TextStats.bigramTransitions(Seq((1L, "a b")).toDF("doc_id", "text")))
    val got = TextStats.scoreWithLm(
      TextStats.bigramTransitions(
        Seq((10L, "c d"), (11L, "a b")).toDF("doc_id", "text")), lm)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L)._1 == 1L)
    assert(math.abs(got(10L)._2 - (-math.log(0.5))) < 1e-6)
    assert(math.abs(got(11L)._2 - (-math.log(0.75))) < 1e-6)
  }

  test("scoreWithLm against an EMPTY LM yields null scores, not perfect ones") {
    // v = 0 would make the naive formula emit nll = -inf / ppl = 0.00 —
    // every doc sails through a low-perplexity gate. Null fails safe.
    val emptyLm = TextStats.bigramLmCounts(
      TextStats.bigramTransitions(Seq.empty[(Long, String)].toDF("doc_id", "text")))
    val got = TextStats.scoreWithLm(
      TextStats.bigramTransitions(Seq((1L, "a b c")).toDF("doc_id", "text")),
      emptyLm).collect()
    assert(got.length == 1 && got(0).getLong(1) == 2L)
    assert(got(0).isNullAt(2) && got(0).isNullAt(3))
  }

  test("stupidBackoffScore hits every branch on a hand-computed fixture") {
    // corpus "a b c a b c" + "x y": tri (a,b,c):2 (b,c,a):1 (c,a,b):1;
    // ctx3 (a,b):2 (b,c):1 (c,a):1; bi (a,b):2 (b,c):2 (c,a):1 (x,y):1;
    // ctx2 a:2 b:2 c:1 x:1; uni a2 b2 c2 x1 y1, N=8.
    val corpus = Seq((1L, "a b c a b c"), (2L, "x y")).toDF("doc_id", "text")
    val batch = Seq(
      10L -> "a b c", // trigram hit: S = 2/2 = 1
      11L -> "x a b", // bigram backoff: S = 0.4 * c2(a,b)/ctx2(a) = 0.4
      12L -> "b c x", // unigram backoff: S = 0.16 * c1(x)/N = 0.16/8
      13L -> "a b q"  // OOV floor: S = 0.16 * max(0,1)/N = 0.16/8
    ).toDF("doc_id", "text")
    val got = TextStats.stupidBackoffScore(corpus, batch)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def nll(s: Double) = -math.log(s)
    assert(math.abs(got(10L) - 0.0) < 1e-9)
    assert(math.abs(got(11L) - nll(0.4)) < 1e-6)
    assert(math.abs(got(12L) - nll(0.16 / 8)) < 1e-6)
    assert(got(12L) == got(13L), "OOV floor must equal the count-1 unigram")
  }

  test("stupidBackoffScore equals a pure-Scala SBO on random corpus/batch splits") {
    // independent reference implementation with plain Scala collections:
    // same trigram→bigram→count-1-floored-unigram backoff, compared at
    // the rounded precision. The tiny vocab + short docs force all three
    // branches (and the OOV floor via the 'zz' batch-only word).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Vector("a", "b", "c", "dd")
    val genDoc = Gen.chooseNum(0, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(words :+ "zz")).map(_.mkString(" ")))
    val genSplit = for {
      nc <- Gen.chooseNum(1, 10)
      corpus <- Gen.listOfN(nc, Gen.listOfN(7, Gen.oneOf(words))
        .map(_.mkString(" ")))
      nb <- Gen.chooseNum(1, 6)
      batch <- Gen.listOfN(nb, genDoc)
    } yield (corpus, batch)
    (1 to 25).foreach { it =>
      val (corpusT, batchT) = genSplit(Gen.Parameters.default, Seed(it.toLong)).get
      val corpus = corpusT.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val batch = batchT.zipWithIndex.map { case (t, i) => (100L + i, t) }
      def toks(t: String) = t.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
      val ct = corpus.map(_._2).map(toks)
      val tri = ct.filter(_.size >= 3)
        .flatMap(ts => ts.sliding(3).map(s => (s(0), s(1), s(2))))
        .groupBy(identity).view.mapValues(_.size).toMap
      val ctx3 = tri.groupBy { case ((p2, p1, _), _) => (p2, p1) }
        .view.mapValues(_.values.sum).toMap
      val bi = ct.filter(_.size >= 2)
        .flatMap(ts => ts.sliding(2).map(s => (s(0), s(1))))
        .groupBy(identity).view.mapValues(_.size).toMap
      val ctx2 = bi.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val uni = ct.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val n = ct.map(_.size).sum
      def s(p2: String, p1: String, w: String): Double =
        tri.get((p2, p1, w)) match {
          case Some(c3) => c3.toDouble / ctx3((p2, p1))
          case None => bi.get((p1, w)) match {
            case Some(c2) => 0.4 * c2 / ctx2(p1)
            case None => 0.16 * math.max(uni.getOrElse(w, 0), 1).toDouble / n
          }
        }
      val expected = batch.map { case (id, t) => id -> toks(t) }
        .filter(_._2.size >= 3).map { case (id, ts) =>
          val trs = ts.sliding(3).map(x => (x(0), x(1), x(2))).toVector
          val h = -trs.map { case (p2, p1, w) => math.log(s(p2, p1, w)) }
            .sum / trs.size
          id -> ((trs.size.toLong, h, math.exp(h)))
        }.toMap
      val got = TextStats.stupidBackoffScore(
          corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(got.keySet == expected.keySet, s"iter $it")
      got.foreach { case (id, (nt, nll, ppl)) =>
        val (en, eh, ep) = expected(id)
        assert(nt == en, s"iter $it doc $id n_trans")
        assert(math.abs(nll - eh) < 1e-6, s"iter $it doc $id nll $nll vs $eh")
        assert(math.abs(ppl - ep) < 5e-3 + 1e-9 * ep, s"iter $it doc $id ppl")
      }
    }
  }

  test("dsirWeights matches the hand-computed target/raw LM log-ratio") {
    // raw corpus {"a b", "b c"}, target {"a b"}:
    //   target LM: cbw(a,b)=1, cp(a)=1, v_t=2; raw: cbw=1 each, cp=1, v_r=3
    //   doc1 "a b": ln(1.5/2) − ln(1.5/2.5) = ln 1.25
    //   doc2 "b c": target floor ln(0.5/1) − raw ln(0.6) = ln(5/6)
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val target = Seq((1L, "a b")).toDF("doc_id", "text")
    val got = TextStats.dsirWeights(docs, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(got(1L) - math.log(1.25)) < 1e-6)
    assert(math.abs(got(2L) - math.log(5.0 / 6)) < 1e-6)
    // an EMPTY target slice fails safe: null weights, not +inf ones
    val empty = TextStats.dsirWeights(docs,
      Seq.empty[(Long, String)].toDF("doc_id", "text")).collect()
    assert(empty.length == 2 && empty.forall(_.isNullAt(2)))
  }

  test("collocations matches hand-computed PMI over transition marginals") {
    // "a b a b": transitions (a,b),(b,a),(a,b) → N=3; big (a,b):2 (b,a):1;
    // cl a:2 b:1; cr b:2 a:1. PMI(a,b)=ln(2·3/(2·2)); PMI(b,a)=ln(1·3/(1·1)).
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val got = TextStats.collocations(docs, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("a", "b")) == (2L, math.round(math.log(1.5) * 1e6) / 1e6))
    assert(got(("b", "a")) == (1L, math.round(math.log(3.0) * 1e6) / 1e6))
    // the min-count cut is on the exact integer count
    assert(TextStats.collocations(docs, minCount = 2).count() == 1)
  }

  test("domainDrift: identical sources score 0, disjoint sources match the closed form") {
    val same = Seq(("s1", "a b"), ("s2", "a b")).toDF("source", "text")
    val gotSame = TextStats.domainDrift(same)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(gotSame("s1") == 0.0 && gotSame("s2") == 0.0)

    // s1 = all "a", s2 = all "b", q = {a:.5, b:.5}: each source's JSD is
    // ½·1·ln(1/.75) + ½·[.5·ln(.5/.75) + ln2·(1−.5)] — compute directly.
    val disj = Seq(("s1", "a a"), ("s2", "b b")).toDF("source", "text")
    val exp = (math.log(1 / 0.75) +
      (0.5 * math.log(0.5 / 0.75) + math.log(2) * 0.5)) / 2
    val gotDisj = TextStats.domainDrift(disj)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(gotDisj("s1") - exp) < 1e-6)
    assert(math.abs(gotDisj("s2") - exp) < 1e-6)
  }

  test("scoreWithSbo against EMPTY tables yields null scores, not perfect ones") {
    // N = sum over an empty unigram table is null, so every branch's
    // score is null and nll/ppl are null — a ppl <= cut gate admits
    // nothing (mirrors the scoreWithLm empty-LM contract).
    val empty = TextStats.sboTables(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val got = TextStats.scoreWithSbo(
        Seq((1L, "a b c")).toDF("doc_id", "text"),
        empty.tri, empty.bi, empty.uni)
      .collect()
    assert(got.length == 1 && got(0).isNullAt(2) && got(0).isNullAt(3))
  }

  test("ta_stupid_backoff leaves no cached dataset behind its collect") {
    def cached() = org.apache.spark.sql.graftbridge.SqlBridge.cachedEntries(spark)
    val before = cached()
    val df = SparkEntry.queries("ta_stupid_backoff")(spark, sf)
    assert(df.collect().nonEmpty)
    assert(cached() <= before,
      s"cache grew $before -> ${cached()} entries")
    // uncached, the three count views still share ONE counting pass: the
    // final plan holds one count aggregate and the others reuse its
    // exchange (a local corpus, so no other spec's cache can serve it)
    val corpus = Seq((1L, "a b c a b c"), (2L, "x y")).toDF("doc_id", "text")
    val scored = TextStats.stupidBackoffScore(corpus, corpus)
    scored.collect()
    val finalPlan = scored.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("partial_max\\(".r.findAllIn(finalPlan).size == 1, finalPlan)
  }

  test("chunkWindows cuts sliding windows with the last-chunk-reaches-end rule") {
    // chunkSize=4, overlap=2 -> stride=2
    val docs = Seq(
      (1L, "a b c"),            // n=3 <= 4: one chunk
      (2L, "a b c d"),          // n=4: exactly one chunk
      (3L, "a b c d e"),        // n=5: starts 0,2 (chunk 1 reaches end)
      (4L, "a b c d e f g h"),  // n=8: starts 0,2,4 (4..8 reaches end)
      (5L, "")                  // empty: no chunks
    ).toDF("doc_id", "text")
    val got = TextStats.chunkWindows(docs, chunkSize = 4, overlap = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0, 3, "a b c"),
      (2L, 0, 4, "a b c d"),
      (3L, 0, 4, "a b c d"), (3L, 1, 3, "c d e"),
      (4L, 0, 4, "a b c d"), (4L, 1, 4, "c d e f"), (4L, 2, 4, "e f g h")))
    // no chunk is ever fully contained in its predecessor
    intercept[IllegalArgumentException] {
      TextStats.chunkWindows(docs, chunkSize = 4, overlap = 4)
    }
  }

  test("chunkWindows covers every token and matches the count formula on random docs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genDocs = Gen.listOfN(12, Gen.chooseNum(0, 50).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" "))))
    for (((chunkSize, overlap), it) <-
        Seq((8, 0), (8, 4), (5, 2), (4, 3)).zipWithIndex) {
      val stride = chunkSize - overlap
      val texts = genDocs(Gen.Parameters.default, Seed(it.toLong + 1)).get
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = TextStats.chunkWindows(docs, chunkSize, overlap)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3)))
      val got = rows.toMap
      // keyed map must not hide duplicated output rows
      assert(rows.length == got.size, s"case $it duplicate (doc, chunk) rows")
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty)
        val n = toks.length
        val expChunks =
          if (n == 0) 0 else 1 + math.ceil(math.max(0, n - chunkSize).toDouble / stride).toInt
        val mine = got.keys.filter(_._1 == i.toLong)
        assert(mine.size == expChunks, s"case $it doc $i chunk count")
        (0 until expChunks).foreach { c =>
          val start = c * stride
          val exp = toks.slice(start, start + chunkSize)
          val (nTok, text) = got((i.toLong, c))
          assert(nTok == exp.length && text == exp.mkString(" "),
            s"case $it doc $i chunk $c content")
        }
        // every token position is inside some chunk's window
        if (n > 0) {
          val covered = (0 until expChunks)
            .flatMap(c => c * stride until math.min(c * stride + chunkSize, n)).toSet
          assert(covered == (0 until n).toSet, s"case $it doc $i coverage")
        }
      }
    }
  }

  test("kneserNeyScore matches the hand-computed interpolated KN bigram") {
    // tokens: d1=[a,b,a,b]  d2=[b,a]
    // transitions: d1 (a,b)x2 (b,a)x1; d2 (b,a)x1
    // bigc: c(a,b)=2 c(b,a)=2; prevc: a(cp=2,n1fw=1) b(cp=2,n1fw=1)
    // contc: n1bw(b)=1 n1bw(a)=1; B=2 bigram types
    // P(b|a) = (2-0.75 + 0.75*1*(1/2)) / 2 = 1.625/2 = 0.8125 = P(a|b)
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextStats.kneserNeyScore(docs).orderBy("doc_id").collect()
    val h = -math.log(0.8125)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round2(x: Double): Double =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got.map(_.getLong(1)).toSeq == Seq(3L, 1L))
    assert(got.forall(_.getDouble(2) == round6(h)))
    assert(got.forall(_.getDouble(3) == round2(math.exp(h))))
  }

  test("scoreWithKn probe fallbacks: unseen continuation and unseen context hit the floors") {
    // corpus "a b c a b d": bigc (a,b)=2 (b,c)=1 (c,a)=1 (b,d)=1 -> B=4
    // prevc: a(cp=2,n1fw=1) b(2,2) c(1,1); contc: b=1 c=1 a=1 d=1
    // batch "a b z q": (a,b) seen; (b,z) unseen continuation -> count-1
    // floor Pcont(z)=1/4; (z,q) unseen context -> pure Pcont(q)=1/4
    val corpus = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b z q")).toDF("doc_id", "text")
    val got = TextStats.scoreWithKn(
      TextStats.bigramTransitions(batch),
      TextStats.bigramLmCounts(TextStats.bigramTransitions(corpus))).collect()
    val p1 = (2 - 0.75 + 0.75 * 1 * 0.25) / 2
    val p2 = (0.75 * 2 * 0.25) / 2
    val p3 = 0.25
    val h = -(math.log(p1) + math.log(p2) + math.log(p3)) / 3
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.length == 1 && got(0).getLong(1) == 3L)
    assert(got(0).getDouble(2) == round6(h),
      s"all three transitions must count: got ${got(0).getDouble(2)}, exp ${round6(h)}")
  }

  test("sourceVocab keeps a source whose docs are all below two tokens") {
    val docs = Seq(("A", "solo"), ("A", ""), ("B", "x y z"))
      .toDF("source", "text")
    val got = TextStats.sourceVocab(docs).orderBy("source").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("A", "B"),
      "degenerate source A must surface, not vanish in the bigram join")
    assert(got(0).getLong(4) == 0L && got(0).isNullAt(6))
  }

  test("scoreWithKn nulls every score on an empty count table") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val empty = Seq.empty[(String, String, Long)].toDF("prev", "w", "cbw")
    val got = TextStats.scoreWithKn(
      TextStats.bigramTransitions(docs), empty).collect()
    assert(got.length == 1 && got(0).isNullAt(2) && got(0).isNullAt(3))
  }

  test("sourceVocab: exact on a hand fixture; HLL within 3*rsd of exact at sf") {
    // hand fixture: src A = "a b a", "a b" -> 5 tokens, {a,b}=2 distinct;
    // bigrams: (a b),(b a),(a b) -> 3 rows, {a b, b a}=2 distinct
    val docs = Seq(("A", "a b a"), ("A", "a b"), ("B", "x y"))
      .toDF("source", "text")
    val got = TextStats.sourceVocab(docs).orderBy("source").collect()
    assert(got(0).getLong(1) == 5L && got(0).getLong(2) == 2L &&
      got(0).getLong(4) == 3L && got(0).getLong(5) == 2L)
    assert(got(1).getLong(1) == 2L && got(1).getLong(4) == 1L)
    // the HLL scale path stays within 3*rsd of exact per source
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sf).select(col("source"), col("text"))
    val exact = TextStats.sourceVocab(corpus).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(5))).toMap
    val rsd = 0.01
    TextStats.sourceVocab(corpus, approx = true, rsd = rsd).collect()
      .foreach { r =>
        val (eu, eb) = exact(r.getString(0))
        assert(math.abs(r.getLong(2) - eu) <= math.max(3 * rsd * eu, 1.0),
          s"${r.getString(0)} d_uni ${r.getLong(2)} vs exact $eu")
        assert(math.abs(r.getLong(5) - eb) <= math.max(3 * rsd * eb, 1.0),
          s"${r.getString(0)} d_bi ${r.getLong(5)} vs exact $eb")
      }
  }

  test("scoreWithNb matches the hand-computed add-1 Naive Bayes log-odds") {
    // corpus: d1 target "a a b"  d2 non-target "a c"
    // cpos: a=2 b=1 (npos=3); cneg: a=1 c=1 (nneg=2); V={a,b,c}=3
    // priors: dpos=dneg=1 -> ln(1)=0
    // batch "a b d" (d unseen -> both smoothing floors):
    //   a: ln(3/6)-ln(2/5)  b: ln(2/6)-ln(1/5)  d: ln(1/6)-ln(1/5)
    val corpus = Seq((1L, "a a b", true), (2L, "a c", false))
      .toDF("doc_id", "text", "is_target")
    val batch = Seq((10L, "a b d")).toDF("doc_id", "text")
    val got = TextStats.nbQualityScore(corpus, batch).collect()
    val exp = (math.log(3.0 / 6) - math.log(2.0 / 5)) +
      (math.log(2.0 / 6) - math.log(1.0 / 5)) +
      (math.log(1.0 / 6) - math.log(1.0 / 5))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.length == 1)
    assert(got(0).getLong(0) == 10L && got(0).getLong(1) == 3L)
    assert(got(0).getDouble(2) == round6(exp))
    assert(got(0).getBoolean(3) == (exp > 0))
  }

  test("scoreWithNb fails safe on a missing class and on an empty model") {
    // one-class corpus: dneg = 0 -> null logodds/pred, a pred gate
    // admits nothing (mirrors the scoreWithLm empty-LM contract)
    val oneClass = Seq((1L, "a b", true)).toDF("doc_id", "text", "is_target")
    val batch = Seq((10L, "a b")).toDF("doc_id", "text")
    val g1 = TextStats.nbQualityScore(oneClass, batch).collect()
    assert(g1.length == 1 && g1(0).isNullAt(2) && g1(0).isNullAt(3))
    // empty model: V = 0 — the per-row lazy guard must keep ANSI
    // division from throwing, and scores must be null
    val empty = Seq.empty[(Long, String, Boolean)]
      .toDF("doc_id", "text", "is_target")
    val g2 = TextStats.nbQualityScore(empty, batch).collect()
    assert(g2.length == 1 && g2(0).isNullAt(2) && g2(0).isNullAt(3))
  }

  test("scoreWithNb equals a pure-Scala Naive Bayes on random labeled corpora") {
    // independent reference implementation with plain Scala collections;
    // random labels also exercise the missing-class fail-safe, and the
    // batch-only 'zz' word the smoothing floors.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Vector("a", "b", "c", "dd")
    val genCase = for {
      nc <- Gen.chooseNum(2, 12)
      corpus <- Gen.listOfN(nc, for {
        n <- Gen.chooseNum(1, 7)
        ws <- Gen.listOfN(n, Gen.oneOf(words))
        l <- Gen.oneOf(true, false)
      } yield (ws.mkString(" "), l))
      nb <- Gen.chooseNum(1, 6)
      batch <- Gen.listOfN(nb, Gen.chooseNum(1, 7).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(words :+ "zz")).map(_.mkString(" "))))
    } yield (corpus, batch)
    (1 to 25).foreach { it =>
      val (corpusT, batchT) =
        genCase(Gen.Parameters.default, Seed(it.toLong)).get
      val corpus = corpusT.zipWithIndex
        .map { case ((t, l), i) => (i.toLong, t, l) }
      val batch = batchT.zipWithIndex.map { case (t, i) => (100L + i, t) }
      def toks(t: String) = t.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
      def counts(sel: Boolean) = corpus.filter(_._3 == sel)
        .flatMap(c => toks(c._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val cpos = counts(true); val cneg = counts(false)
      val npos = cpos.values.sum; val nneg = cneg.values.sum
      val v = (cpos.keySet ++ cneg.keySet).size
      val dpos = corpus.count(_._3); val dneg = corpus.count(!_._3)
      val expected = batch.map { case (id, t) => id -> toks(t) }
        .filter(_._2.nonEmpty).map { case (id, ts) =>
          val lo = if (v == 0 || dpos == 0 || dneg == 0) None
            else Some(math.log(dpos.toDouble / dneg) + ts.map(w =>
              math.log((cpos.getOrElse(w, 0L) + 1.0) / (npos + v)) -
              math.log((cneg.getOrElse(w, 0L) + 1.0) / (nneg + v))).sum)
          id -> ((ts.size.toLong, lo))
        }.toMap
      val got = TextStats.nbQualityScore(
          corpus.toDF("doc_id", "text", "is_target"),
          batch.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap
      assert(got.keySet == expected.keySet, s"iter $it")
      got.foreach { case (id, (nt, lo)) =>
        val (en, el) = expected(id)
        assert(nt == en, s"iter $it doc $id n_toks")
        (lo, el) match {
          case (Some(g), Some(e)) =>
            assert(math.abs(g - e) < 1e-6, s"iter $it doc $id logodds $g vs $e")
          case (None, None) =>
          case _ => fail(s"iter $it doc $id null mismatch: $lo vs $el")
        }
      }
    }
  }

  test("a repeated in-distribution doc scores lower nll than a shuffled one") {
    // the LM is fitted on the corpus: a document whose transitions dominate
    // the corpus must be more predictable than one made of rare transitions
    val common = Seq.fill(8)((0L, "the cat sat on the mat"))
    val docs = (common :+ (100L -> "mat the on sat cat the"))
      .zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = TextStats.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows(0L) < rows(8L))
  }
}
