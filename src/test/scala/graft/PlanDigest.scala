package graft

import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Prints one line per `SparkEntry.queries` entry: its name and a hash of
  * its optimized logical plan, with `#<exprId>` suffixes stripped so two
  * builds of the same plan agree. Diffing the output of two checkouts
  * shows which queries a refactor of the operators moved.
  *
  *   sbt "Test/runMain graft.PlanDigest /path/to/sf0.01 [planDir]"
  *
  * With `planDir`, each query's canonical plan text is also written to
  * `planDir/<name>.txt`, so a digest that moved can be diffed.
  *
  * Five things would make an unchanged query's digest vary between runs,
  * and all five are neutralised here:
  *   - Spark orders the groups of several DISTINCT aggregates by a hash
  *     of their expression ids, so the ids a query gets must not depend
  *     on how many the queries before it used: each query's ids start
  *     at a fixed base (the counter only ever moves forward);
  *   - a lambda variable built through the Column API is named from a
  *     JVM-global counter (`x_17`), so its number moves with the lambdas
  *     the queries before it built: variables are renumbered in order of
  *     first appearance in the plan;
  *   - q52's bucketed tables carry the JVM's pid in their names;
  *   - a persisted store's `InMemoryRelation` prints its physical plan,
  *     whose adaptive part changes once the store has run (an earlier
  *     query may have run it), so the store is printed through the
  *     logical plan it caches instead;
  *   - a physical plan still embedded in the printed tree prints
  *     `[plan_id=N]` from a global counter, which moves with the number
  *     of plans the JVM built before the query.
  */
object PlanDigest {

  private val pidSuffix = s"_${ProcessHandle.current().pid()}\\b"

  /** Stands in the printed tree for a persisted store: its output and
    * storage level over the logical plan it caches. */
  private final case class Store(output: Seq[Attribute], level: StorageLevel, cached: LogicalPlan)
      extends LeafNode {
    override def innerChildren: Seq[QueryPlan[_]] = Seq(cached)
    override def simpleString(maxFields: Int): String =
      s"InMemoryRelation [${output.mkString(", ")}], $level"
  }

  private def withStores(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries { case r: InMemoryRelation =>
      Store(r.output, r.cacheBuilder.storageLevel, withStores(r.cacheBuilder.logicalPlan))
    }

  private val lambdaVar = "lambda ([A-Za-z]\\w*?)_(\\d+)".r

  private def renumberLambdas(text: String): String = {
    val seen = scala.collection.mutable.Map[String, Int]()
    lambdaVar.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
      s"lambda ${m.group(1)}_${seen.getOrElseUpdate(m.group(0), seen.size)}"))
  }

  /** The full plan tree (no field truncation) minus expression ids and
    * physical plan ids, each persisted store printed as the plan it
    * caches and lambda variables numbered by the plan. */
  def canonical(plan: LogicalPlan): String =
    renumberLambdas(withStores(plan).treeString(verbose = true, addSuffix = false,
        maxFields = Int.MaxValue)
      .replaceAll("#\\d+", "")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=<n>]")
      .replaceAll(pidSuffix, "_<pid>"))

  /** Spark's global expression-id counter. */
  private lazy val exprIds: AtomicLong = {
    val f = NamedExpression.getClass.getDeclaredField("curId")
    f.setAccessible(true)
    f.get(null).asInstanceOf[AtomicLong]
  }

  def digest(plan: LogicalPlan): String =
    MessageDigest.getInstance("SHA-256")
      .digest(canonical(plan).getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val planDir = args.lift(1).map(java.nio.file.Paths.get(_))
    planDir.foreach(java.nio.file.Files.createDirectories(_))
    val spark = GraftSession.get("graft-plan-digest")
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((name, fn), i) =>
        exprIds.accumulateAndGet((i + 1).toLong << 24, math.max)
        val line =
          try {
            val plan = fn(spark, sfDir).queryExecution.optimizedPlan
            planDir.foreach(dir =>
              java.nio.file.Files.writeString(dir.resolve(s"$name.txt"), canonical(plan)))
            digest(plan)
          } catch { case e: Throwable => s"ERROR ${e.getClass.getSimpleName}" }
        println(s"$name $line")
        operators.OpUtils.releaseTransients(spark)
      }
    } finally spark.stop()
  }
}
