package graft.core

/**
 * Information-theoretic feature-selection criteria.
 *
 * Implements the greedy score accumulators of the Brown et al. (2012)
 * conditional-likelihood-maximisation framework ("Conditional likelihood
 * maximisation: a unifying framework for information theoretic feature
 * selection", JMLR 13(1):27-66).
 *
 * Semantics match the reference criteria
 * (reference: src/main/scala/org/apache/flink/ml/preprocessing/InfoCriterion.scala:23-214):
 * each criterion holds a fixed relevance I(X;Y) plus accumulated
 * redundancy statistics vs. the already-selected features, and exposes a
 * greedy `score`. These are tiny driver-side objects (one per candidate
 * feature); all heavy lifting (MI/CMI estimation) happens in Spark jobs.
 *
 * Scores accumulate in Double and are exposed as Double; the reference
 * accumulates in Float (InfoCriterion.scala:25) — we keep the extra
 * precision and compare with an epsilon in tests.
 */
sealed trait InfoThCriterion extends Serializable {

  /** Fixed relevance I(X;Y) of this feature vs. the class. */
  var relevance: Double = 0.0

  /** Candidate is still selectable (becomes false once selected). */
  var valid: Boolean = true

  /** Number of (mi, cmi) updates folded so far (= #selected features). */
  protected var k: Int = 0

  def init(rel: Double): this.type = { relevance = rel; this }

  def setValid(v: Boolean): this.type = { valid = v; this }

  /** Fold in redundancy vs. the newest selected feature:
    * mi = I(X; Xselected), cmi = I(X; Xselected | Y). */
  def update(mi: Double, cmi: Double): this.type

  /** Greedy objective value under this criterion. */
  def score: Double

  /** Whether `update` reads its `cmi` argument. A round for a criterion
    * that does not needs only 2-D (x, selected) tables, not 3-D ones. */
  def needsCmi: Boolean
}

/** Mutual Information Maximisation: score = relevance only
  * (reference InfoCriterion.scala:77-87). Selection = top-k relevance. */
final class Mim extends InfoThCriterion {
  override def update(mi: Double, cmi: Double): this.type = { k += 1; this }
  override def score: Double = relevance
  override def needsCmi: Boolean = false
  override def toString = "MIM"
}

/** MI Feature Selection: score = rel - beta * sum(mi)
  * (reference InfoCriterion.scala:92-108; reference factory default
  * beta = 0.0, InfoCriterionFactory.scala:38). */
final class Mifs(val beta: Double = 0.0) extends InfoThCriterion {
  private var redundancy: Double = 0.0
  override def update(mi: Double, cmi: Double): this.type = {
    redundancy += mi; k += 1; this
  }
  override def score: Double = relevance - beta * redundancy
  override def needsCmi: Boolean = false
  override def toString = "MIFS"
}

/** Joint Mutual Information: score = rel - (sum(mi) - sum(cmi)) / k
  * (reference InfoCriterion.scala:114-137). */
final class Jmi extends InfoThCriterion {
  private var redundancy: Double = 0.0
  private var conditionalRedundancy: Double = 0.0
  override def update(mi: Double, cmi: Double): this.type = {
    redundancy += mi; conditionalRedundancy += cmi; k += 1; this
  }
  override def score: Double =
    if (k == 0) relevance
    else relevance - (redundancy - conditionalRedundancy) / k
  override def needsCmi: Boolean = true
  override def toString = "JMI"
}

/** min-Redundancy Max-Relevance: score = rel - sum(mi) / k
  * (reference InfoCriterion.scala:143-164). */
final class Mrmr extends InfoThCriterion {
  private var redundancy: Double = 0.0
  override def update(mi: Double, cmi: Double): this.type = {
    redundancy += mi; k += 1; this
  }
  override def score: Double =
    if (k == 0) relevance else relevance - redundancy / k
  override def needsCmi: Boolean = false
  override def toString = "MRMR"
}

/** Conditional MI Maximisation: score = rel - max over selected of
  * (mi - cmi), modifier floored at 0
  * (reference InfoCriterion.scala:169-185). */
sealed class Cmim extends InfoThCriterion {
  private var maxLoss: Double = 0.0
  override def update(mi: Double, cmi: Double): this.type = {
    maxLoss = math.max(maxLoss, mi - cmi); k += 1; this
  }
  override def score: Double = relevance - maxLoss
  override def needsCmi: Boolean = true
  override def toString = "CMIM"
}

/** Informative Fragments — identical accumulator to CMIM in the reference
  * (InfoCriterion.scala:190-193: `class If extends Cmim`). */
final class If extends Cmim {
  override def toString = "IF"
}

/** Interaction Capping: score = rel - sum(max(0, mi - cmi))
  * (reference InfoCriterion.scala:199-214). */
final class Icap extends InfoThCriterion {
  private var cappedLoss: Double = 0.0
  override def update(mi: Double, cmi: Double): this.type = {
    cappedLoss += math.max(0.0, mi - cmi); k += 1; this
  }
  override def score: Double = relevance - cappedLoss
  override def needsCmi: Boolean = true
  override def toString = "ICAP"
}

/** String -> criterion factory
  * (reference InfoCriterionFactory.scala:35-63; same accepted strings,
  * unknown name -> IllegalArgumentException like InfoCriterionFactory.scala:60). */
object InfoThCriterionFactory {
  val Mim = "mim"
  val Mifs = "mifs"
  val Jmi = "jmi"
  val Mrmr = "mrmr"
  val Icap = "icap"
  val Cmim = "cmim"
  val If = "if"

  val all: Seq[String] = Seq(Mim, Mifs, Jmi, Mrmr, Icap, Cmim, If)

  def apply(name: String, beta: Double = 0.0): InfoThCriterion =
    name.toLowerCase match {
      case Mim  => new graft.core.Mim
      case Mifs => new graft.core.Mifs(beta)
      case Jmi  => new graft.core.Jmi
      case Mrmr => new graft.core.Mrmr
      case Icap => new graft.core.Icap
      case Cmim => new graft.core.Cmim
      case If   => new graft.core.If
      case other =>
        throw new IllegalArgumentException(s"Unknown criterion: $other")
    }
}
