package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reuse-anchor barrier: invisible to results and to the physical
  * plan, opaque to pruning and pushdown in the logical plan — on a plain
  * session (the strategy installs itself) and on one built with
  * `spark.sql.extensions=graft.GraftExtensions` (the strategy is
  * injected). */
class BarrierSpec extends AnyFunSuite {

  /** A session on the shared context that applies NO extensions, even
    * though the context's conf names some: the session constructor that
    * takes an explicit extension set is not public API, so reflect it. */
  private def plainSession(): SparkSession = {
    val s = SparkSpec.session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classOf[org.apache.spark.sql.classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(s.sparkContext, Some(s.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }

  private lazy val sessions: Seq[(String, SparkSession)] = Seq(
    "plain" -> plainSession(),
    "extensions" -> SparkSpec.session)

  private def base(s: SparkSession): DataFrame =
    s.range(0, 100).select(col("id"), (col("id") % 7).as("k"),
      (col("id") * 2).as("v"))

  private def barrierOf(plan: LogicalPlan): Barrier =
    plan.collectFirst { case b: Barrier => b }
      .getOrElse(fail(s"no barrier in\n$plan"))

  test("the strategy is installed exactly once per session") {
    assert(!plainSession().sessionState.planner
      .strategies.contains(Barrier.Planning))
    for ((name, s) <- sessions) {
      Barrier.of(base(s))
      Barrier.of(base(s))
      assert(s.sessionState.planner.strategies.count(_ == Barrier.Planning) == 1,
        name)
      // plain: installed by Barrier.of; extensions: injected at build
      assert(s.experimental.extraStrategies.contains(Barrier.Planning) ==
        (name == "plain"), name)
    }
  }

  test("a downstream select does not prune beneath the barrier") {
    for ((name, s) <- sessions) {
      val opt = Barrier.of(base(s)).select("k").queryExecution.optimizedPlan
      assert(barrierOf(opt).child.output.map(_.name) == Seq("id", "k", "v"),
        s"$name:\n$opt")
      // without the barrier the projection narrows to the one column
      val plain = base(s).select("k").queryExecution.optimizedPlan
      assert(plain.output.map(_.name) == Seq("k") &&
        !plain.toString.contains("v#"), s"$name:\n$plain")
    }
  }

  test("a filter above the barrier is not pushed below it") {
    for ((name, s) <- sessions) {
      val q = Barrier.of(base(s)).where(col("k") === 3)
      val opt = q.queryExecution.optimizedPlan
      assert(barrierOf(opt).child.collect { case f: Filter => f }.isEmpty,
        s"$name:\n$opt")
      assert(opt.collect { case f: Filter => f }.nonEmpty, s"$name:\n$opt")
      assert(q.collect().toSeq == base(s).where(col("k") === 3).collect().toSeq,
        name)
    }
  }

  test("the physical plan carries no barrier node") {
    for ((name, s) <- sessions) {
      val q = Barrier.of(base(s)).groupBy("k").agg(sum("v").as("sv"))
      val rows = q.orderBy("k").collect().toSeq
      assert(rows == base(s).groupBy("k").agg(sum("v").as("sv"))
        .orderBy("k").collect().toSeq, name)
      val phys = q.queryExecution.executedPlan
      assert(!phys.toString.contains("Barrier"), s"$name:\n$phys")
      assert(phys.collect { case p if p.getClass.getName.contains("Barrier") => p }
        .isEmpty, s"$name:\n$phys")
    }
  }

  test("two consumers of one barriered aggregate share its exchange") {
    for ((name, s) <- sessions) {
      def agg(d: DataFrame) = d.groupBy("k")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      // the second consumer reads only the key: unbarriered, pruning
      // drops its aggregate functions and the two subtrees differ
      def query(a: DataFrame) = a.select("k", "sv").join(a.select("k"), "k")
      val barriered = query(Barrier.of(agg(base(s))))
      val plain = query(agg(base(s)))
      assert(barriered.orderBy("k").collect().toSeq ==
        plain.orderBy("k").collect().toSeq, name)
      val withBarrier = DumpRuntimePlans.finalPlanCounts(barriered)
      val without = DumpRuntimePlans.finalPlanCounts(plain)
      assert(withBarrier.reused >= 1, s"$name: $withBarrier")
      assert(without.reused == 0, s"$name: $without")
    }
  }
}
