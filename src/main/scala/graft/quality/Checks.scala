package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Declarative data-quality checks — the dbt generic-test surface
  * (unique / not_null / accepted_values, SURVEY.md §2.9) plus the range
  * test the reference's roadmap wanted, generalized so any table can
  * declare its contract as data:
  *
  *   val checks = Seq(Unique(Seq("id")), NotNull("city"),
  *                    AcceptedValues("cat", Seq("a", "b")), InRange("t", -50, 60))
  *   Checks.reportDf(df, checks)               // one row per check with violation count
  *   Checks.assertAll(("t", df, checks), ...)  // throw if any check fails (pipeline gate)
  *
  * `reportDf` is the one evaluator: every row-predicate check fuses into
  * a single conditional-aggregate scan and each Unique check adds one
  * key-pruned aggregate branch. `assertAll` gates any number of tables
  * with one `count` over their unioned reports — fully distributed,
  * nothing collects unless a check fails.
  */
object Checks {

  sealed trait Check { def name: String }

  /** A check each row passes or fails on its own: `violation` is the
    * row-level predicate, so `reportDf` fuses every such check into ONE
    * conditional-aggregate pass. */
  sealed trait RowCheck extends Check { def violation: Column }

  /** dbt `unique` (composite keys allowed). Not a row predicate — its
    * violation count is "number of duplicated key groups". */
  final case class Unique(cols: Seq[String]) extends Check {
    val name = s"unique_${cols.mkString("_")}"
  }

  /** dbt `not_null`. */
  final case class NotNull(col0: String) extends RowCheck {
    val name = s"not_null_$col0"
    def violation: Column = col(col0).isNull
  }

  /** dbt `accepted_values` (NULLs pass, like SQL NOT IN). */
  final case class AcceptedValues(col0: String, values: Seq[String]) extends RowCheck {
    val name = s"accepted_values_$col0"
    def violation: Column =
      col(col0).isNotNull && !col(col0).isin(values.map(_.asInstanceOf[Any]): _*)
  }

  /** Closed-range test (the reference's unimplemented roadmap item,
    * README.md:126: temperature plausibility). NULLs pass — combine with
    * NotNull to reject them. */
  final case class InRange(col0: String, lo: Double, hi: Double) extends RowCheck {
    val name = s"in_range_$col0"
    def violation: Column = col(col0).isNotNull && !col(col0).between(lo, hi)
  }

  /** Arbitrary predicate that every row must satisfy. */
  final case class Satisfies(name: String, predicateSql: String) extends RowCheck {
    def violation: Column = not(expr(predicateSql))
  }

  /** One row per check: (check, n_violations, passed) — the form a
    * contract dashboard or a downstream gate table consumes, and the form
    * the oracle can verify. Every row-predicate check becomes one entry
    * of an array-of-structs built in a SINGLE conditional-aggregate scan
    * (one job however many checks, map-side partials) and exploded to
    * (check, n_violations) rows; each grouping check (Unique) contributes
    * its own aggregate branch, unioned — at scale the branches
    * parallelize and none reads more than its key columns. */
  def reportDf(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val fused = checks.collect { case c: RowCheck => (c.name, c.violation) }
    val fusedDf =
      if (fused.isEmpty) Seq.empty[DataFrame]
      else Seq(
        df.agg(array(fused.map { case (n, p) =>
            struct(lit(n).as("check"),
              coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L)).as("n_violations"))
          }: _*).as("cs"))
          .select(explode(col("cs")).as("kv"))
          .select(col("kv.check").as("check"), col("kv.n_violations").as("n_violations")))
    val grouped = checks.collect {
      case c @ Unique(cols) =>
        Relational.duplicates(df, cols)
          .agg(count(lit(1)).as("n_violations"))
          .select(lit(c.name).as("check"), col("n_violations"))
    }
    (fusedDf ++ grouped)
      .reduce(_.unionAll(_))
      .withColumn("passed", col("n_violations") === 0L)
  }

  /** Pipeline gate over any number of (table, frame, contract) triples
    * (mirrors the reference DAG failing on dbt test,
    * dags/weatherstack_full_pipeline.py:147-151). The tables' reports are
    * unioned with each check named `table.check`, and ONE `count` of the
    * failing rows decides; only when it is non-zero are the failing names
    * collected, every one of them listed in the exception message. */
  def assertAll(contracts: (String, DataFrame, Seq[Check])*): Unit = {
    val failing = contracts.map { case (table, df, checks) =>
      reportDf(df, checks).select(concat_ws(".", lit(table), col("check")).as("check"),
        col("passed"))
    }.reduce(_.unionAll(_)).filter(!col("passed")).select(col("check"))
    if (failing.count() > 0) {
      val names = failing.collect().map(_.getString(0)).sorted
      throw new IllegalArgumentException(
        s"data-quality check failed: ${names.mkString(", ")}")
    }
  }

  /** Per-column data PROFILE — the table-summary report of dbt docs /
    * Deequ-style profilers: one row per profiled column with row count,
    * null count, distinct count, and min/max rendered as strings. Each
    * column profiles in its own aggregate branch (column-pruned scan,
    * map-side partials) and the branches UNION — at scale the branches
    * run in parallel and no branch reads more than its one column.
    * Profile doubles as fixed-point integers at the call site: raw
    * double→string rendering is engine-specific, exact ints are not.
    */
  def profile(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    cols.map { case (name, c) =>
      df.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(c)).as("n_null"),
        countDistinct(c).as("n_distinct"),
        min(c).cast("string").as("min_value"),
        max(c).cast("string").as("max_value"))
        .select(lit(name).as("column"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)

  /** Order-free reconciliation CHECKSUM per group — the cheap
    * replica/migration compare: each row contributes an md5-derived
    * (4·hexDigits)-bit integer of its canonical rendering, summed per
    * group (sum is commutative ⇒ partition- and order-independent, and
    * engine-portable where a concatenated digest is not). Two tables
    * match iff their (group, n_rows, checksum) frames match — compare
    * O(groups) rows instead of re-shipping either table. The default 10
    * hex digits (40-bit hashes) keep the i64 sum exact past 8M rows per
    * group; beyond that the engine-internal compare still works (both
    * replicas wrap identically) but cross-engine oracles must stay in
    * the exact regime. */
  def groupChecksum(df: DataFrame, groupCol: String, rowRepr: Column,
                    hexDigits: Int = 10): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(conv(substring(md5(rowRepr), 1, hexDigits), 16, 10).cast("long"))
          .as("checksum"))
}
