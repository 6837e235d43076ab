package graft.llm

import graft.SparkSpec

class RecordLinkageSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq(
    RecordLinkage.FieldSpec("a_lang", "b_lang", m = 0.95, u = 0.2),
    RecordLinkage.FieldSpec("a_src", "b_src", m = 0.9, u = 0.05),
    RecordLinkage.FieldSpec("a_band", "b_band", m = 0.8, u = 0.1))

  // the 8 combo weights, replayed by hand
  private val wLang = (math.log(0.95 / 0.2), math.log(0.05 / 0.8))
  private val wSrc = (math.log(0.9 / 0.05), math.log(0.1 / 0.95))
  private val wBand = (math.log(0.8 / 0.1), math.log(0.2 / 0.9))

  test("score: hand-computed combo weights and threshold triage") {
    val pairs = Seq(
      // (id, lang agree?, src agree?, band agree?)
      (1L, "en", "en", "s1", "s1", 3L, 3L),  // all agree → match
      (2L, "en", "en", "s1", "s1", 3L, 4L),  // lang+src → match (2.94)
      (3L, "en", "fr", "s1", "s1", 3L, 3L),  // src+band → review (2.20)
      (4L, "en", "en", "s1", "s2", 3L, 4L),  // lang only → nonmatch (-2.20)
      (5L, "en", "fr", "s1", "s2", 3L, 4L)   // none → nonmatch
    ).toDF("pid", "a_lang", "b_lang", "a_src", "b_src", "a_band", "b_band")
    val got = RecordLinkage.score(pairs, fields, tUpper = 2.5, tLower = -1.0)
      .select("pid", "fs_score", "decision")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    def s(l: Boolean, sr: Boolean, b: Boolean) =
      (if (l) wLang._1 else wLang._2) + (if (sr) wSrc._1 else wSrc._2) +
        (if (b) wBand._1 else wBand._2)
    assert(math.abs(got(1L)._1 - s(true, true, true)) < 1e-12 && got(1L)._2 === "match")
    assert(math.abs(got(2L)._1 - s(true, true, false)) < 1e-12 && got(2L)._2 === "match")
    assert(math.abs(got(3L)._1 - s(false, true, true)) < 1e-12 && got(3L)._2 === "review")
    assert(math.abs(got(4L)._1 - s(true, false, false)) < 1e-12 && got(4L)._2 === "nonmatch")
    assert(got(5L)._2 === "nonmatch")
  }

  test("null field values count as disagreement, never as agreement") {
    val pairs = Seq((1L, null.asInstanceOf[String], null.asInstanceOf[String],
      "s1", "s1", 3L, 3L))
      .toDF("pid", "a_lang", "b_lang", "a_src", "b_src", "a_band", "b_band")
    val got = RecordLinkage.score(pairs, fields, 2.5, -1.0)
      .select("fs_score").as[Double].head()
    val want = wLang._2 + wSrc._1 + wBand._1 // null-null lang = disagree
    assert(math.abs(got - want) < 1e-12)
  }

  test("guards: empty fields and inverted thresholds rejected") {
    val df = Seq((1L, "x", "x")).toDF("pid", "a", "b")
    intercept[IllegalArgumentException] {
      RecordLinkage.score(df, Seq.empty, 1.0, 0.0)
    }
    intercept[IllegalArgumentException] {
      RecordLinkage.score(df, Seq(RecordLinkage.FieldSpec("a", "b", 0.9, 0.1)), 0.0, 1.0)
    }
    intercept[IllegalArgumentException] {
      RecordLinkage.FieldSpec("a", "b", m = 1.0, u = 0.1)
    }
  }
}
