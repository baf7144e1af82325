package graft.tools

import graft.GraftSession
import graft.core.GraphViews

/** `graft shell` — the engine's cypher-shell analog (SURVEY.md §3.3;
  * ref TestBasic.java:146-156 asserts cypher-shell on PATH).
  *
  * Usage: graft.tools.Shell [--graph tpch:<sfDir>] ["<cypher>"...]
  * With queries as args runs them one-shot; otherwise reads stdin
  * lines (semicolon-terminated statements) as a REPL.
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession("graft-shell")
    spark.sparkContext.setLogLevel("ERROR")

    val session = new GraftSession(spark)
    var rest = args.toList
    rest match {
      case "--graph" :: spec :: tail if spec.startsWith("tpch:") =>
        session.setGraph(GraphViews.tpch(spark, spec.stripPrefix("tpch:")))
        rest = tail
      case _ =>
    }

    var database = "neo4j"
    val params = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def run(q: String): Unit =
      try session.cypher(q, params.toMap, database).show(50, truncate = false)
      catch {
        case e: Exception =>
          System.err.println(s"error: ${e.getMessage}")
          if (sys.env.contains("GRAFT_DEBUG")) e.printStackTrace()
      }

    // `:param name => value` literal forms (cypher-shell's arrow syntax)
    def parseParamValue(raw: String): Any = {
      val v = raw.trim
      if (v.startsWith("'") && v.endsWith("'") && v.length >= 2) v.substring(1, v.length - 1)
      else if (v.startsWith("\"") && v.endsWith("\"") && v.length >= 2) v.substring(1, v.length - 1)
      else if (v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false")) v.toBoolean
      else if (v.matches("[+-]?\\d+")) v.toLong
      else if (v.matches("[+-]?\\d*\\.\\d+")) v.toDouble
      else v
    }

    // cypher-shell `:commands` (ref cypher-shell script surface):
    // transaction commands map onto the session's validated no-op
    // transaction statements; they need no `;` terminator.
    def runShellCommand(cmd: String): Boolean = cmd match {
      case c if c.equalsIgnoreCase(":begin")    => run("BEGIN"); true
      case c if c.equalsIgnoreCase(":commit")   => run("COMMIT"); true
      case c if c.equalsIgnoreCase(":rollback") => run("ROLLBACK"); true
      case c if c.toLowerCase.startsWith(":use") =>
        val db = c.drop(4).trim
        if (db.isEmpty) println(s"Current database: $database")
        else database = db
        true
      case c if c.equalsIgnoreCase(":params") =>
        if (params.isEmpty) println("No parameters set")
        else params.foreach { case (k, v) => println(s"$k => $v") }
        true
      case c if c.toLowerCase.startsWith(":param") =>
        c.drop(6).split("=>", 2) match {
          case Array(k, v) if k.trim.nonEmpty => params(k.trim) = parseParamValue(v)
          case _ => System.err.println("usage: :param name => value")
        }
        true
      case c if c.equalsIgnoreCase(":exit") || c.equalsIgnoreCase(":quit") => false
      case other =>
        System.err.println(s"error: unknown command $other"); true
    }

    if (rest.nonEmpty) rest.foreach { stmt =>
      if (stmt.trim.startsWith(":")) runShellCommand(stmt.trim) else run(stmt)
    }
    else {
      print("graft> "); Console.flush()
      val buf = new StringBuilder
      var live = true
      val lines = scala.io.Source.stdin.getLines()
      while (live && lines.hasNext) {
        val line = lines.next()
        if (buf.isEmpty && line.trim.startsWith(":")) {
          live = runShellCommand(line.trim)
          if (live) { print("graft> "); Console.flush() }
        } else {
          buf.append(line).append('\n')
          if (line.trim.endsWith(";")) {
            run(buf.toString.trim.stripSuffix(";")); buf.clear()
            print("graft> "); Console.flush()
          }
        }
      }
      if (live && buf.toString.trim.nonEmpty) run(buf.toString)
    }
    spark.stop()
  }
}
