package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Memo

/** Session-scoped SCHEMA memo for the immutable testdata tables.
  *
  * Every bare `spark.read.parquet(path)` pays a one-task
  * schema-inference job (~30-60 ms wall on a busy host) before the
  * query it feeds even plans; the query constructors read the same few
  * tables (lineitem/documents/embeddings/...) 150+ times per
  * Verify/Bench run, twice per benched row. Passing the schema
  * explicitly skips the inference job — standard production practice
  * for stable tables.
  *
  * The memo ([[Memo.once]]) holds METADATA only (a StructType keyed
  * by session+path): no rows are cached, every query still scans the
  * parquet data. The testdata tables are immutable for a run, so a
  * memoized schema can never go stale.
  */
object Tables {

  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val st = Memo.once(("schema", spark, path)) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(st).parquet(path)
  }

  // NOTE (r18, measured and rejected): a `readWide` variant that
  // round-robin-repartitioned narrow inputs to cluster width before
  // heavy per-row kernels (guide §2.5's unsplittable-input advice) was
  // tried across the text family and made the 11-query A/B set +20%
  // SLOWER at sf0.1 — the extra exchange (sort-before-repartition +
  // payload shuffle + one more AQE stage per query) costs more than
  // the parallelism buys at these corpus sizes. See OPTIMIZATION_r18.md.
}
