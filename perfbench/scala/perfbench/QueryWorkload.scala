package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.SparkEntry
import graft.operators.CacheRegistry

/** A fixed list of `SparkEntry.queries`, run in an order the seed draws
  * afresh for every pass; each op is the query function followed by
  * `queryExecution.toRdd.count()`. */
final class QueryWorkload(names: Seq[String], dataDir: String, warmOp: String, seed: Long)
    extends Workload {
  require(names.forall(SparkEntry.queries.contains),
    s"unknown queries: ${names.filterNot(SparkEntry.queries.contains).mkString(",")}")

  def opNames: Seq[String] = names

  def warm(spark: SparkSession): Unit =
    SparkEntry.queries(warmOp)(spark, dataDir).queryExecution.toRdd.count()

  def ops(spark: SparkSession, n: Int): Seq[Op] =
    QueryWorkload.shuffled(names, seed * 1000 + n).map { name =>
      val fn = SparkEntry.queries(name)
      Op(name, "query", ctx => {
        val df = ctx.build(fn(spark, dataDir))
        val rows = df.queryExecution.toRdd.count()
        ctx.record(df)
        rows
      }, dump = Some(() => fn(spark, dataDir)))
    }

  override def afterOp(spark: SparkSession, op: Op): Map[String, Double] =
    Map("registry_live" -> CacheRegistry.liveCount.toDouble)

  override def afterCheck(spark: SparkSession, checkDir: String): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      Paths.get(s"$checkDir/oracle_sql.json").toFile,
      names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
}

object QueryWorkload {
  /** The reference's job mix, one op per route family: daily snapshot,
    * 1-day gain, leaderboard, point lookup, state merge, daily online time,
    * sessions, distinct users, paginated HTTP ingest. Every op reads
    * `events`, moves little data, and pays the per-job planning and
    * scheduling floor. */
  val Etl = Seq(
    "snapshot_daily", "gain_1d", "leaderboard", "point_lookup", "state_merge",
    "onlinetime_daily", "session_minutes", "hll_distinct_daily", "paged_scan_http")

  def shuffled(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  def etl(dataDir: String, seed: Long): QueryWorkload =
    new QueryWorkload(Etl, dataDir, warmOp = "snapshot_daily", seed)
}
