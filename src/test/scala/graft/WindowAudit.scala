package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Structural audit of GLOBAL (no-partition) window operators across the
  * whole contract surface: for every query, counts physical WindowExec
  * nodes with an empty partitionSpec and prints the node's ordering and its
  * child, so each `WindowExec: No Partition Defined` bench warning maps to
  * a named query and a visible frame. Global windows are only acceptable
  * over provably bounded (aggregated / limited) frames — the PlanLintSpec
  * allow-list discipline; this tool enumerates the instances that discipline
  * must cover. Run: `Test/runMain graft.WindowAudit [sfDir]`. */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession()
    Warmup.run(spark, sfDir)
    var total = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.sparkPlan
        val globals = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        // subqueries / broadcast subtrees hide nested plans
        val nested = plan.flatMap(_.subqueries).flatMap(_.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        })
        val all = globals ++ nested
        if (all.nonEmpty) {
          total += all.size
          println(s"[windowaudit] $name: ${all.size} global window(s)")
          all.foreach { w =>
            val child = w.child.toString.linesIterator.take(2).mkString(" | ").take(160)
            println(s"  order=${w.orderSpec.mkString(",").take(80)} child=$child")
          }
        }
      } catch { case t: Throwable =>
        println(s"[windowaudit] $name: PLAN FAILED ${t.getClass.getSimpleName}")
      }
    }
    println(s"[windowaudit] TOTAL global windows: $total")
    spark.stop()
  }

  private implicit class PlanOps(p: SparkPlan) {
    def subqueries: Seq[SparkPlan] =
      p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.execution.ScalarSubquery => e.plan
      }) ++ p.children.flatMap(_.subqueries)
  }
}
