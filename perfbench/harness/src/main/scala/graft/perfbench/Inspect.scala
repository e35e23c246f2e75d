package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.SparkEntry

/** One-time plan inspection behind the `curation_session` list: warm
  * the fixpoint groups that workload warms, then for each query of the
  * given modules report how many times its optimized plan reads a
  * fixpoint the warm phase persisted (a checkpointed `LogicalRDD` over
  * such an RDD, or an `InMemoryRelation`), with the time of one build +
  * `noop` write. Prints one TSV row per query.
  *
  * Usage: Inspect <dataDir> <Module>[,<Module>...] */
object Inspect {
  def main(args: Array[String]): Unit = {
    val Array(dir, mods) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Workloads.byName("curation_session").warm.foreach { case (g, warm) =>
      val t0 = System.nanoTime()
      warm(spark, dir)
      println(s"WARM\t$g\t${(System.nanoTime() - t0) / 1e9}")
    }
    // the fixpoints the warm phase persisted; a query's own checkpoints
    // taken during its build do not count as fixpoint reads
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val wanted = mods.split(",").toSet
    val oracle = SparkEntry.oracleSql
    for ((m, qs) <- Workloads.modules if wanted(m); q <- qs) {
      val t0 = System.nanoTime()
      val row = try {
        val df = q.fn(spark, dir)
        def fromPersisted(r: org.apache.spark.rdd.RDD[_]): Boolean =
          persisted(r.id) || r.dependencies.exists(d => fromPersisted(d.rdd))
        val plan = df.queryExecution.optimizedPlan
        val reads = plan.collect {
          case l: LogicalRDD if fromPersisted(l.rdd) => 1
          case _: InMemoryRelation => 1
        }.sum
        df.write.format("noop").mode("overwrite").save()
        s"$reads\t${(System.nanoTime() - t0) / 1e9}"
      } catch { case e: Throwable => s"ERR\t${e.getClass.getSimpleName}" }
      println(s"INSPECT\t$m\t${q.name}\t${oracle.contains(q.name)}\t$row")
    }
    spark.stop()
  }
}
