package graft

import graft.queries.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-12 loud-failure contract: a throwing gate must be as visible in
  * the driver artifacts as a failed build (VERDICT r11 item 2 — a broken
  * gate vanished from CORRECTNESS and its time-to-exception was billed as
  * a successful bench entry).
  */
class HarnessFailureSpec extends SparkSpec {

  private def boom: DataFrame =
    throw new IllegalStateException("deliberately broken query")

  test("Bench.timeQuery records a throwing query as a NEGATIVE duration") {
    val t = Bench.timeQuery(boom)
    assert(t < 0, s"expected negative duration for failed query, got $t")
    val ok = Bench.timeQuery(spark.range(3).toDF("id"))
    assert(ok > 0)
  }

  test("Bench.settled marks the query failed if ANY sample failed") {
    assert(Bench.settled(Seq(1.5, -0.3)) == -0.3)
    assert(Bench.settled(Seq(-2.0, -0.5)) == -0.5)
    assert(Bench.settled(Seq(1.5, 0.8)) == 0.8)
    // the magnitude is the fastest FAILURE's time-to-exception: a
    // succeeding retry's duration must not masquerade as a failure time
    assert(Bench.settled(Seq(-2.0, 0.5)) == -2.0)
  }

  test("Verify.writeResult dumps an explicit __verify_error row and the " +
      "failure lands in verify_failures.json") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify-fail")
      .toString
    val err = Verify.writeResult(spark, sf001, out, "broken_gate",
      (_: SparkSession, _: String) => boom)
    assert(err.isDefined && err.get.contains("deliberately broken"))
    // the gate's result slot holds an error relation, not a silent gap —
    // the driver's DuckDB compare then reports an explicit FAIL row
    val marker = spark.read.parquet(s"$out/broken_gate")
    assert(marker.columns.toSeq == Seq("__verify_error"))
    assert(marker.count() == 1)
    val ok = Verify.writeResult(spark, sf001, out, "fine_gate",
      (s: SparkSession, _: String) => s.range(2).toDF("id"))
    assert(ok.isEmpty)
    Verify.writeFailures(out, Seq("broken_gate" -> err.get))
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/verify_failures.json"))
    assert(json.contains("broken_gate"))
  }

  test("Verify.writeFailures writes an empty object when green") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify-ok")
      .toString
    Verify.writeFailures(out, Nil)
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/verify_failures.json"))
    assert(json.trim == "{}")
  }

  // ---- the undeclared-read guard: throwaway artifacts (spark.range
  //      only), each name fresh so its build runs inside the test ----
  private def leaf(name: String) =
    Artifact(name)((s, _) => s.range(3).toDF("id"))(_ => ())
  private def freshOut(): String =
    java.nio.file.Files.createTempDirectory("graft-verify-needs").toString

  test("Verify reports a query that reads an artifact it does not declare") {
    val rows = leaf("harness_spec_rows_q")
    val out = freshOut()
    val err = Verify.writeResult(spark, sf001, out, "sloppy_gate",
      (s: SparkSession, d: String) => rows(s, d))
    assert(err.contains("undeclared artifact read: harness_spec_rows_q"))
    // the result is still written: the guard reports, it does not block
    assert(spark.read.parquet(s"$out/sloppy_gate").count() == 3)
    Verify.writeFailures(out, Seq("sloppy_gate" -> err.get))
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/verify_failures.json"))
    assert(json == """{"sloppy_gate": "undeclared artifact read: harness_spec_rows_q"}""")
  }

  test("Verify reports an undeclared read inside an artifact build") {
    val rows = leaf("harness_spec_rows_b")
    val sloppy = Artifact("harness_spec_sloppy_b")((s, d) => rows(s, d))(_ => ())
    val err = Verify.writeResult(spark, sf001, freshOut(), "gate_b",
      (s: SparkSession, d: String) => sloppy(s, d), needs = Seq(sloppy))
    assert(err.contains(
      "undeclared artifact read: harness_spec_rows_b (in harness_spec_sloppy_b)"))
  }

  test("fully declared artifact reads leave verify_failures.json empty") {
    val rows = leaf("harness_spec_rows_c")
    val counted = Artifact("harness_spec_counted_c", Seq(rows))(
      (s, d) => rows(s, d).count())(_ => ())
    val out = freshOut()
    val err = Verify.writeResult(spark, sf001, out, "gate_c",
      (s: SparkSession, d: String) =>
        rows(s, d).filter(org.apache.spark.sql.functions.col("id") < counted(s, d)),
      needs = Seq(rows, counted))
    assert(err.isEmpty)
    Verify.writeFailures(out, err.map("gate_c" -> _))
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/verify_failures.json"))
    assert(json == "{}")
  }
}
