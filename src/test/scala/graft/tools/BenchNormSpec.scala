package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench anchor-normalization arithmetic (r15 VERDICT #1): the
  * per-rep nominal/anchor scaling, the qualifying-rep median, and the
  * same-code same-sf min-merge against BENCH_HISTORY lines. Pure
  * functions — no Spark session. */
class BenchNormSpec extends AnyFunSuite {

  test("normalizedMedianSec scales each rep by nominal/anchor, then medians") {
    // rep 0 on a nominal box, rep 1 on a 2x-slow box (anchor 140 ms),
    // rep 2 on a 2x-fast box (anchor 35 ms): identical true cost 10 s
    // must normalize to exactly 10 s from every rep
    val t = BenchNorm.normalizedMedianSec(
      Seq(10.0, 20.0, 5.0), Seq(70.0, 140.0, 35.0), nominalMs = 70.0)
    assert(t == 10.0)
  }

  test("normalizedMedianSec drops failed reps (t<0) and bad anchors (a<=0)") {
    assert(BenchNorm.normalizedMedianSec(
      Seq(-1.0, 8.0, 6.0), Seq(70.0, 70.0, 0.0)) == 8.0)
    assert(BenchNorm.normalizedMedianSec(Seq(-1.0), Seq(70.0)) == -1.0)
  }

  test("median: odd takes the middle, even averages the two middles") {
    assert(BenchNorm.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(BenchNorm.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(BenchNorm.median(Nil) == -1.0)
  }

  test("faceMedianSec drops contended reps, but falls back to all reps " +
      "when no clean rep ran the face") {
    val clean = Seq(true, false, true)
    // clean reps ran the face: the contended 9.0 is left out
    assert(BenchNorm.faceMedianSec(Seq(1.0, 9.0, 3.0), clean,
      excludeContended = true) == 2.0)
    assert(BenchNorm.faceMedianSec(Seq(1.0, 9.0, 3.0), clean,
      excludeContended = false) == 3.0)
    // the face ran only in the contended rep: it keeps that time
    assert(BenchNorm.faceMedianSec(Seq(-1.0, 9.0, -1.0), clean,
      excludeContended = true) == 9.0)
    // never ran at all
    assert(BenchNorm.faceMedianSec(Seq(-1.0, -1.0, -1.0), clean,
      excludeContended = true) == -1.0)
  }

  private def line(code: String, sf: String, qn: Map[String, Double]): String =
    s"""{"metric":"total","value":1.0,"code":"$code","queries":{"x":9.9},""" +
      qn.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("\"queries_norm\":{", ",", "},") +
      s""""sf":"$sf"}"""

  test("faceMap extracts exactly the named flat object") {
    val l = line("abc", "/d/sf0.1", Map("q1" -> 1.25, "q2" -> 0.5))
    assert(BenchNorm.faceMap(l, "queries_norm") ==
      Map("q1" -> 1.25, "q2" -> 0.5))
    assert(BenchNorm.faceMap(l, "queries") == Map("x" -> 9.9))
    assert(BenchNorm.faceMap(l, "absent") == Map.empty)
    assert(BenchNorm.stringField(l, "code").contains("abc"))
    assert(BenchNorm.stringField(l, "sf").contains("/d/sf0.1"))
  }

  test("officialMin: per-face min across same-code same-sf runs only") {
    val hist = Seq(
      line("abc", "/d/sf0.1", Map("q1" -> 2.0, "q2" -> 5.0)),
      line("abc", "/d/sf0.1", Map("q1" -> 1.5, "q2" -> 7.0)),
      line("abc", "/d/sf0.001", Map("q1" -> 0.1)), // other sf: excluded
      line("zzz", "/d/sf0.1", Map("q1" -> 0.2))) // other code: excluded
    val (m, n) = BenchNorm.officialMin(hist, "abc", "/d/sf0.1",
      Map("q1" -> 1.8, "q2" -> 6.0, "q3" -> 3.0))
    assert(n == 3) // two matching history lines + current
    assert(m == Map("q1" -> 1.5, "q2" -> 5.0, "q3" -> 3.0))
  }

  test("officialMin: unknown fingerprint never merges; dropped faces vanish") {
    val hist = Seq(line("unknown", "/d/sf0.1", Map("q1" -> 0.5)))
    val (m, n) = BenchNorm.officialMin(hist, "unknown", "/d/sf0.1",
      Map("q1" -> 2.0))
    assert(n == 1 && m == Map("q1" -> 2.0))
    // a face absent from the current surface does not resurface
    val (m2, _) = BenchNorm.officialMin(
      Seq(line("abc", "/d/sf0.1", Map("gone" -> 1.0, "q1" -> 1.0))),
      "abc", "/d/sf0.1", Map("q1" -> 3.0))
    assert(m2 == Map("q1" -> 1.0))
  }

  test("officialMin: lines normalized under a different anchor nominal " +
      "never merge (r16 ADVICE item 4); absent field = default nominal") {
    def lineNom(nom: Double, qn: Map[String, Double]): String =
      s"""{"metric":"total","value":1.0,"code":"abc",""" +
        s""""anchor_nominal_ms":$nom,""" +
        qn.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("\"queries_norm\":{", ",", "},") +
        """"sf":"/d/sf0.1"}"""
    val hist = Seq(
      lineNom(70.0, Map("q1" -> 1.0)), // same nominal: merges
      lineNom(35.0, Map("q1" -> 0.1)), // overridden nominal: excluded
      line("abc", "/d/sf0.1", Map("q1" -> 1.2))) // absent field = 70.0
    val (m, n) = BenchNorm.officialMin(hist, "abc", "/d/sf0.1",
      Map("q1" -> 1.5), nominalMs = 70.0)
    assert(n == 3 && m == Map("q1" -> 1.0))
    // current run under an override merges only with same-override lines
    val (m2, n2) = BenchNorm.officialMin(hist, "abc", "/d/sf0.1",
      Map("q1" -> 1.5), nominalMs = 35.0)
    assert(n2 == 2 && m2 == Map("q1" -> 0.1))
  }

  test("officialMin ignores failed (-1) values when a real one exists") {
    val (m, _) = BenchNorm.officialMin(
      Seq(line("abc", "/d/sf0.1", Map("q1" -> -1.0))),
      "abc", "/d/sf0.1", Map("q1" -> 3.0))
    assert(m == Map("q1" -> 3.0))
  }

  test("codeFingerprint is stable within one tree state and git-shaped") {
    val a = BenchNorm.codeFingerprint()
    val b = BenchNorm.codeFingerprint()
    assert(a == b)
    assert(a == "unknown" || a.matches("[0-9a-f]{12}(\\+[0-9a-f]{8})?"))
  }
}
