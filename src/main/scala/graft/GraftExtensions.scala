package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.SparkStrategy
import graft.functions.{BloomMightContain, CosineSim, LongDiv, NfcNormalize, PortableHash64, VecDot}

/** Session-extension entry point: injects [[GraftExtensions.injections]]
  * (the engine's six native Catalyst functions and the as-of planner
  * strategy) at session build —
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * }}}
  *
  * or, in one call, [[Graft.session]], which also installs whatever a
  * reused session (a notebook's pre-existing `spark`) lacks. Every graft
  * operator and column helper assumes a session from one of these two
  * paths: none of them registers anything itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = injections.foreach {
    case NativeFunction(id, info, build) => e.injectFunction((id, info, build))
    case PlannerStrategy(strategy) => e.injectPlannerStrategy(_ => strategy)
  }
}

object GraftExtensions {

  sealed trait Injection
  final case class NativeFunction(id: FunctionIdentifier, info: ExpressionInfo,
      build: Seq[Expression] => Expression) extends Injection
  final case class PlannerStrategy(strategy: SparkStrategy) extends Injection

  private def fn(name: String, clazz: Class[_])(build: Seq[Expression] => Expression) =
    NativeFunction(FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, name), build)

  /** Everything a graft session needs; the one list both the extension
    * and the [[Graft.session]] fallback install from. */
  val injections: Seq[Injection] = Seq(
    fn("vec_dot", classOf[VecDot])(e => VecDot(e(0), e(1))),
    fn("cosine_sim", classOf[CosineSim])(e => CosineSim(e(0), e(1))),
    fn("portable_hash64", classOf[PortableHash64])(e => PortableHash64(e(0))),
    fn("long_div", classOf[LongDiv])(e => LongDiv(e(0), e(1))),
    fn("nfc_normalize", classOf[NfcNormalize])(e => NfcNormalize(e(0))),
    fn("bloom_might_contain", classOf[BloomMightContain])(
      e => BloomMightContain(e(0), e(1))),
    PlannerStrategy(graft.plans.AsOfJoinStrategy))
}
