package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.sinks.VersionedStore
import graft.sinks.VersionedStore.ColRange

/** The reference's Load tier against a fresh `VersionedStore` root per
  * pass: day 0 is appended, then each later day appends its batch, upserts
  * (`mergeInto` on `event_id`), reads the day back through a `day` skip
  * range, and applies retention (`deleteWhere` on days more than `Retain`
  * days old). After the first day the store is clustered
  * (`optimize`), and the pass ends with `expire` + `vacuum`. Every pass
  * replays the same batches, so its commits, bytes and counters repeat
  * exactly. The day count is the number of `append_NN` batches given. */
final class StoreLoad(dataDir: String, workDir: String) extends Workload {
  import StoreLoad._

  val Days: Int = Option(new File(dataDir).list()).toSeq.flatten
    .count(n => n.startsWith("append_") && n.endsWith(".parquet"))
  require(Days >= 2, s"store_load needs at least two daily batches in $dataDir")

  private def batch(spark: SparkSession, kind: String, d: Int): DataFrame =
    spark.read.parquet(f"$dataDir/${kind}_$d%02d.parquet")

  private def day(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString

  private def root(n: Int): String =
    if (n < 0) s"$workDir/store/check" else s"$workDir/store/pass$n"

  /** Day `d`'s rows, read through the manifest's `day` stats. */
  private def readFrame(spark: SparkSession, root: String, d: Int): DataFrame =
    VersionedStore.readAt(spark, root, VersionedStore.currentVersion(spark, root),
        skip = Seq(ColRange.eq("day", day(d))))
      .filter(col("day") === lit(day(d)).cast("date"))

  def warm(spark: SparkSession): Unit = {
    val r = s"$workDir/store/warm"
    deleteTree(new File(r))
    VersionedStore.commitAppend(batch(spark, "append", 0), r, statsCols = StatsCols)
    VersionedStore.read(spark, r).get.queryExecution.toRdd.count()
    deleteTree(new File(r))
  }

  /** The root the current pass writes; set when the pass's ops are made. */
  private var r = ""

  def ops(spark: SparkSession, n: Int): Seq[Op] = {
    r = root(n)
    deleteTree(new File(r))
    filesSeen = Map.empty
    snapshots.clear()
    val first = Op("append_00", "append", _ =>
      VersionedStore.commitAppend(batch(spark, "append", 0), r, statsCols = StatsCols))
    val cycles = (1 until Days).flatMap { d =>
      val dml = Seq(
        Op(f"append_$d%02d", "append", _ =>
          VersionedStore.commitAppend(batch(spark, "append", d), r, statsCols = StatsCols)),
        Op(f"merge_$d%02d", "merge", _ =>
          VersionedStore.mergeInto(spark, r, batch(spark, "upsert", d), Seq("event_id"),
            statsCols = StatsCols)),
        Op(f"read_$d%02d", "read", ctx => {
          val df = ctx.build(readFrame(spark, r, d))
          val rows = df.queryExecution.toRdd.count()
          ctx.record(df)
          rows
        }, dump = Some(() => readFrame(spark, r, d))),
        Op(f"delete_$d%02d", "delete", _ =>
          VersionedStore.deleteWhere(spark, r,
            col("day") < lit(day(d - Retain + 1)).cast("date"),
            prune = Seq(ColRange("day", None, Some(day(d - Retain)))),
            statsCols = StatsCols)))
      val optimize =
        if (d == OptimizeAt) Seq(Op("optimize", "optimize", _ =>
          VersionedStore.optimize(spark, r, col("user_id"), buckets = 4, statsCols = StatsCols)))
        else Nil
      dml ++ optimize
    }
    val expire = Op("expire_vacuum", "expire", _ => {
      VersionedStore.expire(spark, r, keepLast = 2)
      VersionedStore.vacuum(spark, r)
      VersionedStore.currentVersion(spark, r)
    })
    (first +: cycles) :+ expire
  }

  def opNames: Seq[String] =
    "append_00" +: (1 until Days).flatMap { d =>
      Seq("append", "merge", "read", "delete").map(k => f"${k}_$d%02d") ++
        (if (d == OptimizeAt) Seq("optimize") else Nil)
    } :+ "expire_vacuum"

  // Store accounting of a traced pass, outside the timed calls. Between
  // ops it only lists files and copies the small `_manifests` files aside:
  // a call into VersionedStore there would fill its manifest caches, and
  // the next timed op would skip parsing and resolving the manifest. The
  // copies are resolved through `prunedDirs` after the pass's last op.
  private var filesSeen: Map[String, Long] = Map.empty
  private val snapshots = mutable.ArrayBuffer.empty[(Op, String)]
  private def acctRoot: String = s"$workDir/store/acct"

  override def afterOp(spark: SparkSession, op: Op): Map[String, Double] = {
    val now = files(new File(r))
    val added = now.filter { case (p, _) => !filesSeen.contains(p) }
    filesSeen = now
    val copy = s"$acctRoot/${snapshots.size}"
    copyTree(new File(s"$r/_manifests"), new File(s"$copy/_manifests"))
    snapshots += ((op, copy))
    Map("bytes_written" -> added.values.sum.toDouble, "files_written" -> added.size.toDouble)
  }

  /** The data dirs (by name) of the newest version in a manifest copy. */
  private def dirsOf(spark: SparkSession, copy: String, skip: Seq[ColRange]): Set[String] = {
    val versions = Option(new File(s"$copy/_manifests").list()).toSeq.flatten
      .filter(_.matches("""\d+\.json""")).map(_.stripSuffix(".json").toLong)
    if (versions.isEmpty) Set.empty
    else VersionedStore.prunedDirs(spark, copy, versions.max, skip)
      .map(d => d.substring(d.lastIndexOf('/') + 1)).toSet
  }

  override def afterPass(spark: SparkSession, n: Int): Map[String, Double] = {
    var rewritten, opened, total = 0
    var before = Set.empty[String]
    snapshots.foreach { case (op, copy) =>
      val after = dirsOf(spark, copy, Seq.empty)
      op.kind match {
        case "merge" | "delete" | "optimize" | "expire" => rewritten += before.diff(after).size
        case "read" =>
          val d = op.name.stripPrefix("read_").toInt
          opened += dirsOf(spark, copy, Seq(ColRange.eq("day", day(d)))).size
          total += after.size
        case _ =>
      }
      before = after
    }
    Map("dirs_rewritten" -> rewritten.toDouble, "dirs_opened" -> opened.toDouble,
        "dirs_total" -> total.toDouble,
        "store_bytes_on_disk" -> files(new File(root(n))).values.sum.toDouble)
  }

  override def endPass(n: Int): Unit = {
    deleteTree(new File(root(n)))
    deleteTree(new File(acctRoot))
  }

  override def params: Map[String, Any] = Map("days" -> Days, "retain_days" -> Retain)

  override def afterCheck(spark: SparkSession, checkDir: String): Unit = {
    VersionedStore.read(spark, root(-1)).get.coalesce(1)
      .write.mode("overwrite").parquet(s"$checkDir/store_final")
    deleteTree(new File(root(-1)))
  }
}

object StoreLoad {
  val Retain = 1
  val OptimizeAt = 1
  val StatsCols = Seq("day")

  def files(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else if (dir.isFile) Map(dir.getPath -> dir.length())
    else Option(dir.listFiles()).toSeq.flatten.flatMap(f => files(f)).toMap

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else if (from.isFile) java.nio.file.Files.copy(from.toPath, to.toPath)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
