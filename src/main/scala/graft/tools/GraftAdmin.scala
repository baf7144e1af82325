package graft.tools

import java.nio.file.{Files, Paths}
import graft.auth.AuthStore
import graft.core.SnapshotStore

/** `graft-admin` — the neo4j-admin image's verb surface (SURVEY.md
  * §2.6; ref docker-image-src/calver/neo4j-admin/docker-entrypoint.sh
  * and TestDumpLoad/TestBackupRestore).
  *
  * Snapshots are self-contained parquet directories, so dump / load /
  * backup / restore are file-level artifact moves against the data
  * dir (`<dataDir>/databases/<db>`) — no engine process involved,
  * exactly like neo4j-admin operating on a stopped server's /data.
  *
  * Refusals mirror the admin image: the server cannot be started from
  * here, and `report` must run inside the server container.
  */
object GraftAdmin {

  def main(args: Array[String]): Unit =
    sys.exit(run(args.toIndexedSeq, sys.env.getOrElse("GRAFT_DATA", "data"),
      Console.out.println(_), Console.err.println(_)))

  def run(args: Seq[String], dataDir: String,
      out: String => Unit = _ => (), err: String => Unit = _ => ()): Int = {

    // == make sure the server cannot be run from this entrypoint ==
    if (args.headOption.contains("neo4j")) {
      err("""This is a neo4j-admin only image, and usage of Neo4j server is not supported from here.
            |If you wish to start a Neo4j database, use the server entrypoint instead.""".stripMargin)
      return 1
    }
    // == make sure report cannot be run from this entrypoint ==
    if (args.contains("report")) {
      err("""neo4j-admin report must be run in the same container as neo4j
            |otherwise the report tool cannot access relevant files and processes required for generating the report.""".stripMargin)
      return 1
    }

    def flag(name: String): Option[String] =
      args.collectFirst { case a if a.startsWith(s"--$name=") => a.drop(name.length + 3) }
    def boolFlag(name: String): Boolean =
      args.contains(s"--$name") || flag(name).contains("true")
    def countFiles(dir: String): Long =
      Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).count()

    args.toList match {
      case "database" :: "dump" :: db :: _ =>
        val toPath = flag("to-path").getOrElse { err("Missing option '--to-path'"); return 1 }
        val src = s"$dataDir/databases/$db"
        if (!SnapshotStore.exists(src)) {
          err(s"Database '$db' does not exist in $dataDir"); return 1
        }
        SnapshotStore.copyDir(src, s"$toPath/$db.dump")
        out(s"Done: ${countFiles(s"$toPath/$db.dump")} files copied to $toPath/$db.dump.")
        0

      case "database" :: "load" :: db :: _ =>
        val fromPath = flag("from-path").getOrElse { err("Missing option '--from-path'"); return 1 }
        val src = s"$fromPath/$db.dump"
        if (!SnapshotStore.exists(src)) {
          err(s"Archive does not exist: $src"); return 1
        }
        val dst = s"$dataDir/databases/$db"
        if (SnapshotStore.exists(dst) && !boolFlag("overwrite-destination")) {
          err(s"Database '$db' already exists. Use --overwrite-destination to replace it.")
          return 1
        }
        SnapshotStore.deleteDir(dst)
        SnapshotStore.copyDir(src, dst)
        out(s"Done: ${countFiles(dst)} files copied from $src.")
        0

      case "database" :: "backup" :: db :: _ =>
        // online-safe: snapshots are immutable once written
        val toPath = flag("to-path").getOrElse { err("Missing option '--to-path'"); return 1 }
        val src = s"$dataDir/databases/$db"
        if (!SnapshotStore.exists(src)) {
          err(s"Database '$db' does not exist in $dataDir"); return 1
        }
        SnapshotStore.copyDir(src, s"$toPath/$db.backup")
        out(s"Done: ${countFiles(s"$toPath/$db.backup")} files, backup complete.")
        0

      case "database" :: "restore" :: db :: _ =>
        val fromPath = flag("from-path").getOrElse { err("Missing option '--from-path'"); return 1 }
        val src = s"$fromPath/$db.backup"
        if (!SnapshotStore.exists(src)) {
          err(s"Backup does not exist: $src"); return 1
        }
        val dst = s"$dataDir/databases/$db"
        if (SnapshotStore.exists(dst) && !boolFlag("overwrite-destination")) {
          err(s"Database with name [$db] already exists. Use --overwrite-destination to replace it.")
          return 1
        }
        SnapshotStore.deleteDir(dst)
        SnapshotStore.copyDir(src, dst)
        out(s"Done: restored database $db from $src.")
        0

      case "database" :: "compact" :: db :: _ =>
        // fold on-disk delta overlays into the base — the explicit
        // form of SnapshotStore.writeDelta's size-triggered policy
        // (the reference analog: checkpoint + txn-log rotation,
        // ref docker-entrypoint.sh:559, Configuration.java:31)
        val dir = s"$dataDir/databases/$db"
        if (!SnapshotStore.exists(dir)) {
          err(s"Database '$db' does not exist in $dataDir"); return 1
        }
        // an embedding caller's session is used as it is
        val spark = org.apache.spark.sql.SparkSession.getActiveSession
          .getOrElse(graft.SparkEntry.localSession("graft-admin"))
        val m = SnapshotStore.compact(spark, dir)
        out(s"Done: compacted database '$db' " +
          s"(${m.nodeCount} nodes, ${m.edgeCount} relationships).")
        0

      case "dbms" :: "set-initial-password" :: password :: _ =>
        val changed = new AuthStore(dataDir)
          .setInitialPassword(password, boolFlag("require-password-change"))
        if (!changed)
          out("Initial password was not set because live Neo4j-users were detected.")
        0

      case other =>
        err(s"Unknown command: ${other.mkString(" ")}")
        err("Usage: graft-admin database <dump|load|backup|restore|compact> <db> " +
          "[--to-path=|--from-path=] [--overwrite-destination[=true]] | " +
          "dbms set-initial-password <pw> [--require-password-change]")
        1
    }
  }
}
