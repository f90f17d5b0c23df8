package graft.quality

import graft.SparkSpec
import Checks._

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, "PARIS", "Mild", 18),
    (2L, "LONDON", "Freezing", -3),
    (3L, null, "Scorching", 75),
    (3L, "TOKYO", "Hot", 35)
  ).toDF("id", "city", "category", "temperature")

  private val contract = Seq(
    Unique(Seq("id")),
    NotNull("city"),
    AcceptedValues("category", Seq("Freezing", "Cold", "Mild", "Warm", "Hot")),
    InRange("temperature", -50, 60),
    Satisfies("temp_int_range", "temperature BETWEEN -273 AND 1000"))

  private def report(df: org.apache.spark.sql.DataFrame) =
    Checks.reportDf(df, contract).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq

  test("report counts violations per check") {
    assert(report(df).toSet == Set(
      ("unique_id", 1L, false),          // id 3 twice
      ("not_null_city", 1L, false),
      ("accepted_values_category", 1L, false), // Scorching
      ("in_range_temperature", 1L, false),     // 75
      ("temp_int_range", 0L, true)))
  }

  test("every contract check appears exactly once (fused + grouped branches)") {
    assert(report(df).map(_._1).sorted == contract.map(_.name).sorted)
  }

  test("assertAll passes a clean frame and names the failing check") {
    Checks.assertAll(("t", df.limit(2), contract)) // first two rows are clean
    val e = intercept[IllegalArgumentException](Checks.assertAll(("t", df, contract)))
    // every failing check is listed, table-tagged; the passing one is not
    Seq("t.unique_id", "t.not_null_city", "t.accepted_values_category",
      "t.in_range_temperature").foreach(n => assert(e.getMessage.contains(n)))
    assert(!e.getMessage.contains("temp_int_range"))
  }

  test("profile reports rows, nulls, distincts, and stringified min/max per column") {
    import org.apache.spark.sql.functions.col
    val data = Seq((1L, Some("a")), (2L, None), (3L, Some("a")), (4L, Some("b")))
      .toDF("id", "v")
    val out = Checks.profile(data, Seq("id" -> col("id"), "v" -> col("v")))
      .orderBy("column")
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(out.toSeq == Seq(
      ("id", 4L, 0L, 4L, "1", "4"),
      ("v", 4L, 1L, 2L, "a", "b")))
  }

  test("groupChecksum is partition-order-free and detects a one-row change") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val base = Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "z", 30L))
      .toDF("g", "k", "v")
    def sums(df: org.apache.spark.sql.DataFrame) =
      Checks.groupChecksum(df, "g", concat_ws("|", col("k"), col("v")))
        .orderBy("g").as[(Long, Long, Long)].collect().toSeq
    assert(sums(base) == sums(base.repartition(7)))
    val tweaked = Seq((1L, "x", 10L), (1L, "y", 21L), (2L, "z", 30L))
      .toDF("g", "k", "v")
    val (b, t) = (sums(base), sums(tweaked))
    assert(b.head != t.head)            // group 1 checksum moves
    assert(b.last == t.last)            // group 2 untouched
  }
}
