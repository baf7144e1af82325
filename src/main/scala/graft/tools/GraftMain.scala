package graft.tools

import graft.GraftSession
import graft.core.SnapshotStore

/** `docker run neo4j` analog (SURVEY.md §2.8/§3.1): boot = stale-lock
  * cleanup -> extension script -> config/packs/auth assembly
  * (GraftSession.fromEnv) -> load persisted databases -> serve the
  * shell; arbitrary command passthrough mirrors
  * docker-entrypoint.sh:682-685.
  */
object GraftMain {

  def main(args: Array[String]): Unit = {
    val env = sys.env.toMap
    val dataDir = env.getOrElse("GRAFT_DATA", "data")

    args.headOption match {
      case Some("console") | Some("graft") | None =>
        Lifecycle.checkDataDir(env, dataDir)
        Lifecycle.cleanStalePid(dataDir)
        Lifecycle.runExtensionScript(env, script =>
          Console.out.println(s"[extension] ${script.linesIterator.size} lines sourced"))
        Lifecycle.writePid(dataDir)

        val spark = graft.SparkEntry.localSession("graft", env)
        spark.sparkContext.setLogLevel("ERROR")

        // /conf mount analog (SURVEY §2.8 mounts row): GRAFT_CONF dir
        // may carry user neo4j.conf / apoc.conf
        def confFile(name: String): Option[String] =
          env.get("GRAFT_CONF").map(d => java.nio.file.Paths.get(d, name))
            .filter(java.nio.file.Files.exists(_))
            .map(java.nio.file.Files.readString(_))
        val session = GraftSession.fromEnv(spark, env,
          userConf = confFile("neo4j.conf"),
          userApocConf = confFile("apoc.conf"),
          dataDir = Some(dataDir))
        // load persisted databases from the data dir
        val dbRoot = java.nio.file.Paths.get(dataDir, "databases")
        if (java.nio.file.Files.isDirectory(dbRoot))
          java.nio.file.Files.list(dbRoot).forEach { p =>
            if (SnapshotStore.exists(p.toString))
              session.loadDatabase(dataDir, p.getFileName.toString)
          }
        Lifecycle.registerShutdownHook(dataDir, () =>
          session.catalog.listDatabases.filterNot(_ == "system")
            .foreach(db => session.saveDatabase(dataDir, db)))
        // 7474-style HTTP surface (tx/commit + readiness probe),
        // opt-in via GRAFT_HTTP_PORT (the reference image always maps
        // 7474; here the default stays off so batch/driver runs don't
        // bind ports)
        env.get("GRAFT_HTTP_PORT").map(_.toInt).foreach { p =>
          // all-interfaces default so container port mapping works
          // (reference parity); override with GRAFT_HTTP_ADDRESS
          val addr = env.getOrElse("GRAFT_HTTP_ADDRESS", "0.0.0.0")
          val bound = new graft.http.HttpEndpoint(session, p, addr).start()
          Console.out.println(s"HTTP enabled on $addr:$bound")
        }
        // 7473-style HTTPS surface, opt-in via GRAFT_HTTPS_PORT +
        // GRAFT_SSL_KEYSTORE/GRAFT_SSL_PASSWORD (the reference wires
        // mounted /ssl certificates into its HTTPS connector,
        // docker-entrypoint.sh:479-537; a keystore plays that role)
        env.get("GRAFT_HTTPS_PORT").map(_.toInt).foreach { p =>
          val ks = env.getOrElse("GRAFT_SSL_KEYSTORE", sys.error(
            "GRAFT_HTTPS_PORT requires GRAFT_SSL_KEYSTORE (path to a JKS/PKCS12 keystore)"))
          val pw = env.getOrElse("GRAFT_SSL_PASSWORD", "")
          val ctx = graft.http.HttpEndpoint.sslContextFromKeystore(ks, pw)
          val addr = env.getOrElse("GRAFT_HTTP_ADDRESS", "0.0.0.0")
          val bound = new graft.http.HttpEndpoint(session, p, addr, ssl = Some(ctx)).start()
          Console.out.println(s"HTTPS enabled on $addr:$bound")
        }
        // 7687-style Bolt surface (autocommit RUN/PULL), opt-in via
        // GRAFT_BOLT_PORT (the reference image always maps 7687)
        env.get("GRAFT_BOLT_PORT").map(_.toInt).foreach { p =>
          val addr = env.getOrElse("GRAFT_BOLT_ADDRESS", "0.0.0.0")
          val bound = new graft.bolt.BoltEndpoint(session, p, addr).start()
          Console.out.println(s"Bolt enabled on $addr:$bound")
        }
        Console.out.println("Started.")
        Shell.main(args.drop(1))

      case Some("shell") =>
        Shell.main(args.drop(1))

      case Some(other) =>
        // arbitrary command passthrough (docker-entrypoint.sh:682-685)
        val pb = new ProcessBuilder(args: _*).inheritIO()
        sys.exit(pb.start().waitFor())
    }
  }
}
