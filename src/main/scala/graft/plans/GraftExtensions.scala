package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AdjacentPairs, CharPairs, DotProduct, HllSketchAgg, KmvSketchAgg, MergePair, MisraGriesAgg, MisraGriesWeightedAgg, NGramShingles, NormalizeNfc, RepetitionStats}

/**
 * SparkSessionExtensions entry point: registers the engine's native
 * expressions so plain SQL can use them on any cluster via
 * `--conf spark.sql.extensions=graft.plans.GraftExtensions`, and the
 * [[GatherFirst]] optimizer rule.
 *
 * For an already-running session (notebooks, tests), [[GraftExtensions.register]]
 * installs the same functions directly into the session's registry.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    GraftExtensions.tableDescriptors.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => GatherFirst)
  }
}

object GraftExtensions {

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    exprs =>
      require(exprs.length == n,
        s"$name expects $n arguments, got ${exprs.length}")
      build(exprs)
  }

  /** Evaluate a foldable int argument (a sketch's b/k parameter). */
  private def literalInt(name: String, e: Expression): Int = {
    require(e.foldable && e.dataType ==
      org.apache.spark.sql.types.IntegerType,
      s"$name expects an INT literal, got $e")
    val v = e.eval()
    require(v != null, s"$name got a null literal")
    v.asInstanceOf[Int]
  }

  /** Evaluate a foldable string argument (e.g. the merge pair's x/y). */
  private def literalString(name: String, e: Expression): String = {
    require(e.foldable, s"$name expects a string literal, got $e")
    require(e.dataType == org.apache.spark.sql.types.StringType,
      s"$name expects a STRING literal, got ${e.dataType.sql}")
    val v = e.eval()
    require(v != null, s"$name got a null literal")
    v.toString
  }

  private val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot_product", classOf[DotProduct],
      arity("graft_dot_product", 2)(es => DotProduct(es.head, es(1)))),
    ("graft_repetition_stats", classOf[RepetitionStats],
      arity("graft_repetition_stats", 1)(es => RepetitionStats(es.head))),
    ("graft_char_pairs", classOf[CharPairs],
      arity("graft_char_pairs", 1)(es => CharPairs(es.head))),
    ("graft_adjacent_pairs", classOf[AdjacentPairs],
      arity("graft_adjacent_pairs", 1)(es => AdjacentPairs(es.head))),
    ("graft_merge_pair", classOf[MergePair],
      arity("graft_merge_pair", 3)(es => MergePair(es.head,
        literalString("graft_merge_pair", es(1)),
        literalString("graft_merge_pair", es(2))))),
    ("graft_normalize_nfc", classOf[NormalizeNfc],
      arity("graft_normalize_nfc", 1)(es => NormalizeNfc(es.head))),
    ("graft_ngram_shingles", classOf[NGramShingles],
      arity("graft_ngram_shingles", 2)(es => NGramShingles(es.head, {
        require(es(1).foldable && es(1).dataType ==
          org.apache.spark.sql.types.IntegerType,
          s"graft_ngram_shingles expects an INT literal n, got ${es(1)}")
        es(1).eval().asInstanceOf[Int]
      }))),
    // The native bounded-state sketch AGGREGATES (the analyzer wraps a
    // resolved AggregateFunction in its AggregateExpression, so plain
    // `SELECT graft_hll(x, 8) FROM t GROUP BY g` works): the SQL face
    // of the at-rest sketch family.
    ("graft_hll", classOf[HllSketchAgg],
      arity("graft_hll", 2)(es =>
        HllSketchAgg(es.head, literalInt("graft_hll", es(1))))),
    ("graft_kmv", classOf[KmvSketchAgg],
      arity("graft_kmv", 2)(es =>
        KmvSketchAgg(es.head, literalInt("graft_kmv", es(1))))),
    ("graft_heavy_hitters", classOf[MisraGriesAgg],
      arity("graft_heavy_hitters", 2)(es =>
        MisraGriesAgg(es.head, literalInt("graft_heavy_hitters", es(1))))),
    ("graft_heavy_hitters_weighted", classOf[MisraGriesWeightedAgg],
      arity("graft_heavy_hitters_weighted", 3)(es =>
        MisraGriesWeightedAgg(es.head, es(1),
          literalInt("graft_heavy_hitters_weighted", es(2))))))

  private[plans] val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    builders.map { case (name, cls, b) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)
    }

  // ---------- TABLE functions (CDC / SCD2 / resolve from plain SQL) --
  //
  // The versioned table's computed READ SHAPES as SQL table-valued
  // functions: each builder splices the corresponding Scala API's
  // LOGICAL PLAN into the calling query at resolution time — fully
  // distributed (windows/joins plan like any other subquery), nothing
  // ever collects to the driver, and the dynamic schema (these return
  // the table's own columns, which no fixed-schema CALL procedure can
  // express) comes along for free:
  //
  //   SELECT * FROM graft_current('path', 'k')        -- MOR resolve
  //   SELECT * FROM graft_changes('path', 'k', 1, 4)  -- CDC between versions
  //   SELECT * FROM graft_history('path', 'k')        -- SCD2 intervals
  //
  // Paths address the table directly (catalog tables resolve through
  // SELECT on the table name already; these serve path-addressed
  // tables and version-pair CDC, which the catalog face cannot).
  private def tableArity(name: String, n: Int)(
      build: Seq[Expression]
        => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[Expression]
        => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    exprs =>
      require(exprs.length == n,
        s"$name expects $n arguments, got ${exprs.length}")
      build(exprs)
  }

  private val tableBuilders: Seq[(String,
      Seq[Expression]
        => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    ("graft_current", tableArity("graft_current", 2) { es =>
      graft.io.Versioned.current(SparkSession.active,
          literalString("graft_current", es.head),
          literalString("graft_current", es(1)))
        .queryExecution.logical
    }),
    ("graft_changes", tableArity("graft_changes", 4) { es =>
      graft.io.Versioned.changes(SparkSession.active,
          literalString("graft_changes", es.head),
          literalString("graft_changes", es(1)),
          literalInt("graft_changes", es(2)),
          literalInt("graft_changes", es(3)))
        .queryExecution.logical
    }),
    ("graft_history", tableArity("graft_history", 2) { es =>
      graft.io.Versioned.history(SparkSession.active,
          literalString("graft_history", es.head),
          literalString("graft_history", es(1)))
        .queryExecution.logical
    }),
    // the O(delta) CDC face: delta-slice window + zone-pruned
    // point-lookup of the old state — same relation as graft_changes,
    // the cost shape for "what changed in the last N commits"
    ("graft_changes_inc", tableArity("graft_changes_inc", 4) { es =>
      graft.io.Versioned.changesIncremental(SparkSession.active,
          literalString("graft_changes_inc", es.head),
          literalString("graft_changes_inc", es(1)),
          literalInt("graft_changes_inc", es(2)),
          literalInt("graft_changes_inc", es(3)))
        .queryExecution.logical
    }),
    // AUTO-DISPATCHING CDC: the O(delta) kernel when the range allows
    // it (no MERGE, unchanged mapping, no NULL keys), the full diff
    // otherwise — the face a cron'd SQL consumer points at; never
    // throws where a correct answer exists (graft_changes_inc stays
    // the strict face for callers who want the refusal)
    ("graft_changes_auto", tableArity("graft_changes_auto", 4) { es =>
      graft.io.Versioned.changesAuto(SparkSession.active,
          literalString("graft_changes_auto", es.head),
          literalString("graft_changes_auto", es(1)),
          literalInt("graft_changes_auto", es(2)),
          literalInt("graft_changes_auto", es(3)))
        .queryExecution.logical
    }))

  private[plans] val tableDescriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression]
        => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    tableBuilders.map { case (name, b) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[graft.io.Versioned.type].getName, name),
        b)
    }

  /** Install the functions and the [[GatherFirst]] rule into a live
    * session (idempotent). */
  def register(spark: SparkSession): Unit = {
    GatherFirst.install(spark)
    builders.foreach { case (name, _, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
    }
    tableBuilders.foreach { case (name, b) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
