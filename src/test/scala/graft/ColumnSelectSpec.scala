package graft

import graft.ops.ColumnSelect
import graft.ops.ColumnSelect.Spec
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's column-set algebra test battery
  * (crates/freeze/src/types/schemas.rs:239-380) over an equivalent
  * 15-column universe with an 8-column ordered default set.
  */
class ColumnSelectSpec extends AnyFunSuite {

  // a 15-column universe and 8 ordered defaults, shaped like the
  // reference's Blocks dataset
  private val all = Seq(
    "block_number", "block_hash", "timestamp", "author", "gas_used",
    "extra_data", "base_fee_per_gas", "chain_id", "receipts_root",
    "transactions_root", "state_root", "logs_bloom", "difficulty",
    "size", "uncles_count")
  // NOTE the phantom default "n_transactions" (not in the universe): the
  // reference's Blocks defaults carry one such column, which survives the
  // defaults-only path but is dropped by the include-path intersection —
  // that's why its include test yields 7 defaults + 2 includes = 9.
  private val defaults = Seq(
    "block_number", "block_hash", "timestamp", "author", "gas_used",
    "extra_data", "base_fee_per_gas", "n_transactions")

  private def used(spec: Spec) = ColumnSelect.usedColumns(all, defaults, spec)

  test("explicit columns win outright, in given order; 'all' expands") {
    assert(used(Spec(columns = Some(Seq("block_number", "block_hash"))))
      == Seq("block_number", "block_hash"))
    val a = used(Spec(columns = Some(Seq("all"))))
    assert(a.length == 15 && a.contains("block_hash") && a.contains("transactions_root"))
    // unknown explicit column is an error (reference: SchemaError::InvalidColumn)
    intercept[IllegalArgumentException] {
      used(Spec(columns = Some(Seq("block_number", "foo_bar"))))
    }
  }

  test("include appends to ordered defaults; unknown include skipped; 'all' expands") {
    val r = used(Spec(include = Some(Seq("chain_id", "receipts_root"))))
    assert(r.length == 9) // 7 surviving defaults + 2 includes (schemas.rs:279)
    assert(r.takeRight(2) == Seq("chain_id", "receipts_root"))
    // non-existing include is skipped, known one lands last
    val r2 = used(Spec(include = Some(Seq("chain_id", "foo_bar"))))
    assert(r2.last == "chain_id" && !r2.contains("foo_bar"))
    val r3 = used(Spec(include = Some(Seq("all"))))
    assert(r3.length == 15 && r3.contains("transactions_root"))
  }

  test("exclude removes from defaults; unknown exclude ignored") {
    assert(used(Spec()) == defaults)
    val r = used(Spec(exclude = Some(Seq("author", "extra_data"))))
    assert(r.length == 6 && !r.contains("author") && !r.contains("extra_data"))
    val r2 = used(Spec(exclude = Some(Seq("timestamp", "foo_bar"))))
    assert(r2.length == 7 && !r2.contains("timestamp") && !r2.contains("foo_bar"))
  }

  test("include and exclude compose (reference: include_and_exclude_cols)") {
    val r = used(Spec(
      include = Some(Seq("chain_id", "receipts_root")),
      exclude = Some(Seq("author", "extra_data"))))
    assert(r.length == 7 && !r.contains("author") && !r.contains("extra_data"))
    assert(r.takeRight(2) == Seq("chain_id", "receipts_root"))
  }

  test("apply() projects a DataFrame and Catalyst prunes the scan") {
    val spark = SparkTestSession.get
    // private copy of the table: other suites cache the shared sf0.001
    // path, and a cache-matched plan has no parquet ReadSchema to assert on
    val tmp = SparkTestSession.tempDir("colsel").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val out = ColumnSelect(df, Seq("doc_id", "source", "lang"),
      Spec(include = Some(Seq("n_chars", "nope")), exclude = Some(Seq("lang"))))
    assert(out.columns.toSeq == Seq("doc_id", "source", "n_chars"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") &&
      !plan.substring(plan.indexOf("ReadSchema")).takeWhile(_ != '\n').contains("text"))
  }
}
