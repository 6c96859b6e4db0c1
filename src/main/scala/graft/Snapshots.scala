package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** Snapshot lifecycle CLI — the ops verbs over [[graft.sources.SnapshotStore]],
  * drivable from the packaged jar like [[Pipeline]] and [[Audit]]:
  *
  *   sbt "runMain graft.Snapshots publish  <root> <parquetDir> [idCol]"
  *   sbt "runMain graft.Snapshots log      <root>"
  *   sbt "runMain graft.Snapshots rollback <root> <version>"
  *   sbt "runMain graft.Snapshots vacuum   <root> [keep]"
  *   sbt "runMain graft.Snapshots break-lease <root>"
  *
  * `publish` reads a parquet directory (any engine output — a Pipeline
  * run, a Verify dump, an upstream delivery) and commits it as the next
  * version with the atomic `_latest` flip; `log` prints one JSON line
  * per manifest (version, n_rows, digest) plus the live pointer;
  * `rollback` is the O(1) metadata flip to an existing version;
  * `vacuum` bounds storage while protecting the live target;
  * `break-lease` clears a crashed publisher's writer lease (only after
  * confirming the holder is dead — the lease body records its pid).
  *
  * Every verb prints one final JSON status line and exits non-zero on
  * failure (including a held lease) — the scheduler contract shared
  * with [[Audit]].
  */
object Snapshots {
  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Snapshots <verb> <root> [args]
        |  publish     <root> <parquetDir> [idCol=doc_id]
        |  log         <root>
        |  rollback    <root> <version>
        |  vacuum      <root> [keep=2]
        |  break-lease <root>""".stripMargin)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) usage()
    val verb = args(0)
    val root = args(1)
    val spark = Session.local(Session.cpus(8), 8)

    try {
      verb match {
        case "publish" =>
          if (args.length < 3) usage()
          val idCol = if (args.length >= 4) args(3) else "doc_id"
          val df = spark.read.parquet(args(2))
          require(df.columns.contains(idCol),
            s"publish: id column '$idCol' not in ${df.columns.mkString(",")}" +
              " — pass the id column as the 4th argument")
          val v = SnapshotStore.publish(df, root, col(idCol))
          println(s"""{"verb":"publish","root":"${CliJson.str(root)}","version":$v}""")
        case "log" =>
          val live = SnapshotStore.latestVersion(root)
          SnapshotStore.versions(spark, root).collect().foreach { r =>
            println(s"""{"version":${r.getLong(0)},"n_rows":${r.getLong(1)},""" +
              s""""digest":${r.getLong(2)},""" +
              s""""live":${live.contains(r.getLong(0))}}""")
          }
          println(s"""{"verb":"log","root":"${CliJson.str(root)}","live":${
            live.map(_.toString).getOrElse("null")}}""")
        case "rollback" =>
          if (args.length < 3) usage()
          val v = args(2).toLong
          SnapshotStore.rollback(root, v)
          println(s"""{"verb":"rollback","root":"${CliJson.str(root)}","live":$v}""")
        case "vacuum" =>
          val keep = if (args.length >= 3) args(2).toInt else 2
          val removed = SnapshotStore.vacuum(root, keep)
          println(s"""{"verb":"vacuum","root":"${CliJson.str(root)}","keep":$keep,""" +
            s""""removed":[${removed.mkString(",")}]}""")
        case "break-lease" =>
          val broke = SnapshotStore.breakLease(root)
          println(s"""{"verb":"break-lease","root":"${CliJson.str(root)}","removed":$broke}""")
        case _ => usage()
      }
    } catch {
      case e: Exception =>
        System.err.println(s"graft.Snapshots $verb failed: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
