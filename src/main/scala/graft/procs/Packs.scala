package graft.procs

import org.apache.spark.sql.functions._
import graft.GraftSession

/** Bundled plugin packs (SURVEY.md §2.4/2.5). Each pack registers its
  * procedures/scalar functions into the session's registry, the way
  * the reference installs plugin jars at container start
  * (docker-entrypoint.sh:216-252; registry neo4j-plugins.json:2-49).
  *
  * Packs are compiled in (always "local", docker-entrypoint.sh:237-249)
  * and semver-gated: a pack whose supported version specs don't match
  * the engine version is skipped with a warning, mirroring the
  * reference's degrade-gracefully path (docker-entrypoint.sh:157-170).
  */
object Packs {

  /** Engine version (the version packs are matched against). */
  val EngineVersion = "5.26.0"

  /** Pack name -> supported engine-version specs (semver.jq syntax). */
  val packVersions: Map[String, Seq[String]] = Map(
    "apoc" -> Seq("5.x.x"),
    "apoc-extended" -> Seq("5.x.x"),
    "graph-data-science" -> Seq("5.x.x"),
    "genai" -> Seq("5.x.x"),
    "bloom" -> Seq("5.x.x"),
    "fleet-management" -> Seq("5.x.x"),
    "_testing" -> Seq("x.x.x"))

  def knownPlugins: Seq[String] = packVersions.keys.toSeq.sorted

  /** Install the requested packs; unknown names error with the
    * reference's message shape, hiding `_testing` (the first sorted
    * key — docker-entrypoint.sh:220-224). */
  def install(session: GraftSession, plugins: Seq[String],
      log: String => Unit = _ => ()): Unit = {
    plugins.foreach { p =>
      if (!packVersions.contains(p))
        throw new IllegalArgumentException(
          s""""$p" is not a known Neo4j plugin. Options are:
             |${knownPlugins.drop(1).mkString("\n")}""".stripMargin)
    }
    plugins.foreach { p =>
      SemVer.selectBest(packVersions(p), EngineVersion) match {
        case None =>
          log(s"ERROR: No compatible \"$p\" plugin found for Neo4j $EngineVersion. " +
            s"The engine will continue to start, but \"$p\" will not be loaded.")
        case Some(_) => p match {
          case "apoc" | "apoc-extended" => installApoc(session)
          case "graph-data-science"     => installGds(session)
          case "genai"                  => installGenai(session)
          case "_testing"               => installTesting(session)
          case _ => () // bloom / fleet-management: config-only
        }
      }
    }
  }

  /** File-shaped plugin registry: the reference resolves every plugin
    * through a versions.json — a JSON array of {"neo4j": <semver
    * spec>, "jar": <artifact ref>} entries — fetched per plugin,
    * matched against the engine version with jq min_by semantics, and
    * degraded gracefully: a missing/unreadable registry or an entry
    * set with no compatible version logs an ERROR and startup
    * CONTINUES without the plugin (docker-entrypoint.sh:155-180;
    * tests TestPluginInstallation.java:170-227). Here the registry
    * dir holds `<plugin>/versions.json` fixtures and the resolved
    * "jar" names the compiled-in pack to activate — the resolution
    * protocol is the reference's; only the artifact transport
    * (download vs compiled-in) differs, as documented in SURVEY §2.4. */
  def installFromRegistry(session: GraftSession, registryDir: String,
      plugins: Seq[String], log: String => Unit = _ => ()): Unit = {
    plugins.foreach { p =>
      val path = java.nio.file.Paths.get(registryDir, p, "versions.json")
      if (!java.nio.file.Files.isReadable(path)) {
        log(s"ERROR: could not query $path for plugin compatibility information. " +
          "This could indicate a problem with your network or this container's " +
          s"""network settings. Neo4j will continue to start, but "$p" will not be loaded.""")
      } else {
        val text = java.nio.file.Files.readString(path)
        val entries = """\{[^}]*\}""".r.findAllIn(text).toSeq.flatMap { obj =>
          def f(k: String) =
            ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(obj).map(_.group(1))
          for (n <- f("neo4j"); j <- f("jar")) yield (n, j)
        }
        SemVer.selectBest(entries.map(_._1), EngineVersion)
          .flatMap(spec => entries.find(_._1 == spec)) match {
          case None =>
            log(s"""ERROR: No compatible "$p" plugin found for Neo4j $EngineVersion. """ +
              "This can happen with the newest Neo4j versions when a compatible plugin " +
              s"has not yet been released. You can either use an older version of Neo4j, " +
              s"""or continue without $p. Neo4j will continue to start, but "$p" will not be loaded.""")
          case Some((_, jar)) =>
            log(s"Installing Plugin '$p' from registry entry '$jar'")
            install(session, Seq(jar), log)
        }
      }
    }
  }

  // ---- apoc (ref TestConfSettings.java:411 `RETURN apoc.version()`) ----

  private def installApoc(session: GraftSession): Unit = {
    val procs = session.procedures
    procs.registerScalar("apoc.version", "() :: STRING")(_ => lit(EngineVersion))
    // string/coll helpers (SURVEY §2.5 apoc row) — all Catalyst
    // built-ins / higher-order fns, no Scala UDFs
    procs.registerScalar("apoc.text.clean", "(text :: STRING) :: STRING")(a =>
      lower(regexp_replace(a(0), "[^A-Za-z0-9]", "")))
    procs.registerScalar("apoc.text.join", "(texts :: LIST<STRING>, delim :: STRING) :: STRING")(a =>
      // fold-join because concat_ws needs a literal separator
      when(size(a(0)) === 0, lit("")).otherwise(
        aggregate(slice(a(0), lit(2), size(a(0))),
          element_at(a(0), 1), (acc, x) => concat(acc, a(1), x))))
    procs.registerScalar("apoc.create.uuid", "() :: STRING")(_ =>
      expr("uuid()"))
    procs.registerScalar("apoc.coll.sum", "(coll :: LIST<FLOAT>) :: FLOAT")(a =>
      aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast("double")))
    procs.registerScalar("apoc.coll.max", "(coll :: LIST<ANY>) :: ANY")(a => array_max(a(0)))
    procs.registerScalar("apoc.coll.min", "(coll :: LIST<ANY>) :: ANY")(a => array_min(a(0)))
    procs.registerScalar("apoc.coll.contains", "(coll :: LIST<ANY>, value :: ANY) :: BOOLEAN")(a =>
      array_contains(a(0), a(1)))
    procs.registerScalar("apoc.coll.sort", "(coll :: LIST<ANY>) :: LIST<ANY>")(a =>
      sort_array(a(0)))
    procs.registerScalar("apoc.coll.toSet", "(coll :: LIST<ANY>) :: LIST<ANY>")(a =>
      array_distinct(a(0)))
    procs.registerScalar("apoc.coll.reverse", "(coll :: LIST<ANY>) :: LIST<ANY>")(a =>
      reverse(a(0)))
    // set-algebra family — apoc's union/intersection/subtract are
    // DISTINCT (set) semantics, unionAll keeps duplicates
    procs.registerScalar("apoc.coll.union",
      "(first :: LIST<ANY>, second :: LIST<ANY>) :: LIST<ANY>")(a =>
      array_union(a(0), a(1)))
    procs.registerScalar("apoc.coll.unionAll",
      "(first :: LIST<ANY>, second :: LIST<ANY>) :: LIST<ANY>")(a =>
      concat(a(0), a(1)))
    procs.registerScalar("apoc.coll.intersection",
      "(first :: LIST<ANY>, second :: LIST<ANY>) :: LIST<ANY>")(a =>
      array_intersect(a(0), a(1)))
    procs.registerScalar("apoc.coll.subtract",
      "(first :: LIST<ANY>, second :: LIST<ANY>) :: LIST<ANY>")(a =>
      array_except(a(0), a(1)))
    procs.registerScalar("apoc.coll.duplicates",
      "(coll :: LIST<ANY>) :: LIST<ANY>")(a =>
      // distinct elements occurring more than once; per-row quadratic
      // over a (small) list column, no shuffle
      filter(array_distinct(a(0)),
        x => size(filter(a(0), y => y === x)) > 1))
    procs.registerScalar("apoc.text.split",
      "(text :: STRING, regex :: STRING) :: LIST<STRING>")(a =>
      call_function("split", a(0), a(1)))
    procs.registerScalar("apoc.text.capitalize", "(text :: STRING) :: STRING")(a =>
      initcap(a(0)))
    procs.registerScalar("apoc.text.indexOf",
      "(text :: STRING, lookup :: STRING) :: INTEGER")(a =>
      // APOC is 0-based with -1 absent; instr is 1-based with 0 absent
      (instr(a(0), a(1)) - 1).cast("long"))
    procs.registerScalar("apoc.text.replace",
      "(text :: STRING, regex :: STRING, replacement :: STRING) :: STRING")(a =>
      regexp_replace(a(0), a(1), a(2)))
    procs.registerScalar("apoc.text.repeat",
      "(item :: STRING, count :: INTEGER) :: STRING")(a =>
      call_function("repeat", a(0), a(1)))
    procs.registerScalar("apoc.text.slug",
      "(text :: STRING, delim :: STRING?) :: STRING")(a =>
      // strip non-alnum edges BEFORE replacing runs, so punctuation at
      // either end never becomes a leading/trailing delimiter
      regexp_replace(
        regexp_replace(a(0), "^[^A-Za-z0-9]+|[^A-Za-z0-9]+$", ""),
        lit("[^A-Za-z0-9]+"), if (a.length > 1) a(1) else lit("-")))
    // digests — Catalyst's codegen'd hash expressions, no UDFs
    // generic JSON serialization: wrap the value in a one-field struct
    // (to_json handles any nested type that way, scalars included) and
    // unwrap the envelope textually — codegen'd end to end, no UDF
    procs.registerScalar("apoc.convert.toJson", "(value :: ANY) :: STRING")(a =>
      when(a(0).isNull, lit("null")).otherwise(
        regexp_extract(to_json(struct(a(0).as("v"))), "^\\{\"v\":(.*)\\}$", 1)))
    procs.registerScalar("apoc.util.md5",
      "(values :: LIST<STRING>) :: STRING")(a => md5(concat_ws("", a(0))))
    procs.registerScalar("apoc.util.sha1",
      "(values :: LIST<STRING>) :: STRING")(a => sha1(concat_ws("", a(0))))
    procs.registerScalar("apoc.util.sha256",
      "(values :: LIST<STRING>) :: STRING")(a => sha2(concat_ws("", a(0)), 256))
    // date bridge: epoch <-> formatted string, unit 's' or 'ms'.
    // call_function routes the non-literal format column through the
    // SQL-layer to_timestamp/date_format (their Scala wrappers demand
    // literal patterns; the SQL functions never did).
    procs.registerScalar("apoc.date.parse",
      "(time :: STRING, unit :: STRING, format :: STRING) :: INTEGER") { a =>
      val ms = unix_millis(call_function("to_timestamp", a(0), a(2)))
      when(lower(a(1)) === "s", (ms / 1000).cast("long")).otherwise(ms)
    }
    procs.registerScalar("apoc.date.format",
      "(time :: INTEGER, unit :: STRING, format :: STRING) :: STRING") { a =>
      val ms = when(lower(a(1)) === "s", a(0).cast("long") * 1000)
        .otherwise(a(0).cast("long"))
      call_function("date_format", timestamp_millis(ms), a(2))
    }
    // apoc.map.* (r19 gap-hunt): implemented over MapType — the
    // compiler converts struct-encoded map literals whose fields share
    // a type (CypherCompiler.structToMap; mixed-type maps refuse, the
    // documented homogeneous-collection deviation). All Column-only,
    // no UDFs; merge/setKey are right-wins via an entry filter.
    def mergeMaps(l: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      map_from_entries(concat(
        filter(map_entries(l), e => !map_contains_key(r, e.getField("key"))),
        map_entries(r)))
    procs.registerScalar("apoc.map.fromPairs",
      "(pairs :: LIST<LIST<ANY>>) :: MAP")(a =>
      map_from_entries(transform(a(0), p =>
        struct(element_at(p, 1).cast("string").as("key"),
          element_at(p, 2).as("value")))))
    procs.registerScalar("apoc.map.fromLists",
      "(keys :: LIST<STRING>, values :: LIST<ANY>) :: MAP")(a =>
      map_from_arrays(a(0), a(1)))
    procs.registerScalar("apoc.map.merge",
      "(first :: MAP, second :: MAP) :: MAP")(a => mergeMaps(a(0), a(1)))
    procs.registerScalar("apoc.map.setKey",
      "(map :: MAP, key :: STRING, value :: ANY) :: MAP")(a =>
      mergeMaps(a(0), map(a(1).cast("string"), a(2))))
    procs.registerScalar("apoc.map.removeKey",
      "(map :: MAP, key :: STRING) :: MAP")(a =>
      map_from_entries(filter(map_entries(a(0)),
        e => e.getField("key") =!= a(1))))
    procs.registerScalar("apoc.map.get",
      "(map :: MAP, key :: STRING, default :: ANY?) :: ANY")(a =>
      if (a.size >= 3) coalesce(try_element_at(a(0), a(1)), a(2))
      else try_element_at(a(0), a(1)))
    procs.registerScalar("apoc.text.distance",
      "(text1 :: STRING, text2 :: STRING) :: INTEGER")(a =>
      levenshtein(a(0), a(1)).cast("long"))
    procs.registerScalar("apoc.text.levenshteinDistance",
      "(text1 :: STRING, text2 :: STRING) :: INTEGER")(a =>
      levenshtein(a(0), a(1)).cast("long"))
    procs.registerScalar("apoc.coll.flatten",
      "(coll :: LIST<LIST<ANY>>) :: LIST<ANY>")(a => flatten(a(0)))
    procs.registerScalar("apoc.coll.zip",
      "(first :: LIST<ANY>, second :: LIST<ANY>) :: LIST<LIST<ANY>>")(a =>
      zip_with(a(0), a(1), (x, y) => array(x, y)))
    procs.registerScalar("apoc.coll.pairsMin",
      "(coll :: LIST<ANY>) :: LIST<LIST<ANY>>")(a =>
      // index list is filtered BEFORE element_at so no branch ever
      // reads out of bounds (ANSI-safe), and the <2-element case
      // yields a correctly-typed empty without a second cast branch:
      // sequence's bound is clamped ascending, then over-indexes drop
      transform(
        filter(sequence(lit(1), greatest(size(a(0)), lit(2)) - 1),
          i => i < size(a(0))),
        i => array(element_at(a(0), i), element_at(a(0), i + 1))))
    procs.registerScalar("apoc.coll.indexOf",
      "(coll :: LIST<ANY>, value :: ANY) :: INTEGER")(a =>
      (array_position(a(0), a(1)) - 1).cast("long"))
    procs.registerScalar("apoc.coll.avg",
      "(coll :: LIST<FLOAT>) :: FLOAT")(a =>
      when(size(a(0)) === 0, lit(null).cast("double")).otherwise(
        aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast("double")) /
          size(a(0)).cast("double")))
    procs.registerScalar("apoc.text.levenshteinDistance",
      "(text1 :: STRING, text2 :: STRING) :: INTEGER")(a =>
      levenshtein(a(0), a(1)).cast("long"))
    procs.registerScalar("apoc.text.levenshteinSimilarity",
      "(text1 :: STRING, text2 :: STRING) :: FLOAT")(a =>
      lit(1.0) - levenshtein(a(0), a(1)).cast("double") /
        greatest(length(a(0)), length(a(1)), lit(1)).cast("double"))
    // apoc.periodic.iterate — the operational batch driver. The outer
    // statement streams through the driver batch-by-batch
    // (toLocalIterator — never a full collect), and each batch is ONE
    // distributed statement via the engine's `UNWIND $_batch AS row`
    // bulk path, so the cluster sees batchSize-row bulk writes, not
    // per-row round trips. Divergence from APOC (documented): the
    // action references outer columns as `row.<col>` (the implicit
    // UNWIND alias) instead of bare variables, and `parallel: true` is
    // unnecessary — each batch statement is already distributed.
    procs.registerWithParams("apoc.periodic.iterate",
      Seq(procs.Param("cypherIterate"), procs.Param("cypherAction"),
        procs.Param("config", Some(Map.empty[String, Any]))),
      "(cypherIterate :: STRING, cypherAction :: STRING, config :: MAP) :: " +
        "(batches, total, failedBatches, errorMessages)",
      "Drive an outer statement in batches; run the action once per batch " +
        "(action sees each outer row as `row`)") { args =>
      val outerQ = String.valueOf(args(0))
      val action = String.valueOf(args(1))
      val cfg = args(2) match {
        case m: collection.Map[_, _] => m.asInstanceOf[collection.Map[String, Any]]
        case _                       => Map.empty[String, Any]
      }
      val batchSize = cfg.get("batchSize") match {
        case Some(n: Number) => n.intValue()
        case Some(other) => throw new IllegalArgumentException(
          s"batchSize must be a number, got $other")
        case None => 1000
      }
      if (batchSize <= 0)
        throw new IllegalArgumentException(s"batchSize must be positive, got $batchSize")
      val outer = session.cypher(outerQ)
      var total = 0L; var batches = 0L; var failed = 0L
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      val buf = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      def flush(): Unit = if (buf.nonEmpty) {
        batches += 1; total += buf.size
        try session.cypher(s"UNWIND $$_batch AS row $action",
          Map("_batch" -> buf.toSeq))
        catch {
          case e: Exception =>
            failed += 1
            errs += s"batch $batches: ${e.getMessage}"
        }
        buf.clear()
      }
      val it = outer.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        buf += r.schema.fieldNames.zip(r.toSeq).toMap
        if (buf.size >= batchSize) flush()
      }
      flush()
      procs.oneRow("batches" -> batches, "total" -> total,
        "failedBatches" -> failed, "errorMessages" -> errs.mkString("; "))
    }
    // apoc.merge.node — the DYNAMIC upsert (labels and keys chosen at
    // runtime — ETL tools use it when the schema arrives with the
    // data). Labels/property KEYS must be plain identifiers (validated
    // — they interpolate into the statement); property VALUES travel
    // as query parameters, never as text, so no value can change the
    // statement's shape. The synthesized MERGE runs the ordinary
    // literal-upsert path (buffered, delta-shaped).
    procs.registerWithParams("apoc.merge.node",
      Seq(procs.Param("labels"), procs.Param("identProps"),
        procs.Param("onCreateProps", Some(Map.empty[String, Any])),
        procs.Param("onMatchProps", Some(Map.empty[String, Any]))),
      "(labels :: LIST<STRING>, identProps :: MAP, onCreateProps :: MAP?, " +
        "onMatchProps :: MAP?) :: (id)",
      "MERGE a node with runtime labels/keys; returns its id") { args =>
      val IdentRx = "^[A-Za-z_][A-Za-z0-9_]*$".r
      def ident(s: Any, what: String): String = {
        val v = String.valueOf(s)
        if (IdentRx.findFirstIn(v).isEmpty) throw new IllegalArgumentException(
          s"apoc.merge.node $what `$v` must be a plain identifier")
        v
      }
      def toMap(a: Any, what: String): Map[String, Any] = a match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case null => Map.empty
        case other => throw new IllegalArgumentException(
          s"apoc.merge.node $what must be a map, got $other")
      }
      val labels = args.head match {
        case s: Seq[_] if s.nonEmpty => s.map(ident(_, "label"))
        case other => throw new IllegalArgumentException(
          s"apoc.merge.node needs a non-empty label list, got $other")
      }
      val identProps = toMap(args(1), "identProps")
      if (identProps.isEmpty) throw new IllegalArgumentException(
        "apoc.merge.node needs at least one identifying property")
      val onCreate = toMap(args(2), "onCreateProps")
      val onMatch = toMap(args(3), "onMatchProps")
      identProps.keys.foreach(ident(_, "property key"))
      (onCreate.keys ++ onMatch.keys).foreach(ident(_, "property key"))
      val pat = identProps.keys.map(k => s"$k: $$_ip_$k").mkString(", ")
      val ocTxt =
        if (onCreate.isEmpty) ""
        else " ON CREATE SET " + onCreate.keys.map(k => s"n.$k = $$_oc_$k").mkString(", ")
      val omTxt =
        if (onMatch.isEmpty) ""
        else " ON MATCH SET " + onMatch.keys.map(k => s"n.$k = $$_om_$k").mkString(", ")
      val stmt = s"MERGE (n:${labels.mkString(":")} {$pat})$ocTxt$omTxt " +
        "RETURN id(n) AS id"
      val params = identProps.map { case (k, v) => s"_ip_$k" -> v } ++
        onCreate.map { case (k, v) => s"_oc_$k" -> v } ++
        onMatch.map { case (k, v) => s"_om_$k" -> v }
      session.cypher(stmt, params)
    }
    // apoc.merge.relationship — the natural pair of apoc.merge.node
    // (dynamic-ETL upserts need both ends): MERGE a relationship of a
    // RUNTIME type between two already-known nodes. Endpoints arrive
    // as node ids (the id apoc.merge.node returns — this engine's
    // procedure arguments are values, documented divergence from
    // APOC's node objects); the relType and property KEYS must be
    // plain identifiers (validated — they interpolate), property
    // VALUES travel as parameters. Ident-prop literals ride the MERGE
    // pattern so same-type relationships with different ident values
    // stay distinct, and the synthesized statement runs the ordinary
    // MATCH … MERGE path (buffered, delta-shaped, eid-keyed).
    procs.registerWithParams("apoc.merge.relationship",
      Seq(procs.Param("startNode"), procs.Param("relationshipType"),
        procs.Param("identProps", Some(Map.empty[String, Any])),
        procs.Param("onCreateProps", Some(Map.empty[String, Any])),
        procs.Param("endNode"),
        procs.Param("onMatchProps", Some(Map.empty[String, Any]))),
      "(startNode :: INTEGER, relationshipType :: STRING, identProps :: MAP?, " +
        "onCreateProps :: MAP?, endNode :: INTEGER, onMatchProps :: MAP?) :: (src, dst)",
      "MERGE a relationship of a runtime type between two node ids") { args =>
      val IdentRx = "^[A-Za-z_][A-Za-z0-9_]*$".r
      def ident(s: Any, what: String): String = {
        val v = String.valueOf(s)
        if (IdentRx.findFirstIn(v).isEmpty) throw new IllegalArgumentException(
          s"apoc.merge.relationship $what `$v` must be a plain identifier")
        v
      }
      def toMap(a: Any, what: String): Map[String, Any] = a match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case null => Map.empty
        case other => throw new IllegalArgumentException(
          s"apoc.merge.relationship $what must be a map, got $other")
      }
      def nodeId(a: Any, what: String): Long = a match {
        case n: Number => n.longValue()
        case other => throw new IllegalArgumentException(
          s"apoc.merge.relationship $what must be a node id, got $other")
      }
      val sid = nodeId(args(0), "startNode")
      val relType = ident(args(1), "relationship type")
      val identProps = toMap(args(2), "identProps")
      val onCreate = toMap(args(3), "onCreateProps")
      val did = nodeId(args(4), "endNode")
      val onMatch = toMap(args(5), "onMatchProps")
      (identProps.keys ++ onCreate.keys ++ onMatch.keys)
        .foreach(ident(_, "property key"))
      // ident props interpolate as LITERALS into the merge pattern
      // (the matched-merge path matches existing relationships on
      // literal pattern props); values are scalars only — strings
      // escape through a parameter-shaped literal check
      def lit(v: Any): String = v match {
        case null          => "null"
        case n: Number     => String.valueOf(n)
        case b: Boolean    => String.valueOf(b)
        case s: String     => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
        case other => throw new IllegalArgumentException(
          s"apoc.merge.relationship identProps values must be scalars, got $other")
      }
      val pat =
        if (identProps.isEmpty) ""
        else " {" + identProps.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k: ${lit(v)}" }.mkString(", ") + "}"
      val ocTxt =
        if (onCreate.isEmpty) ""
        else " ON CREATE SET " + onCreate.keys.map(k => s"r.$k = $$_oc_$k").mkString(", ")
      val omTxt =
        if (onMatch.isEmpty) ""
        else " ON MATCH SET " + onMatch.keys.map(k => s"r.$k = $$_om_$k").mkString(", ")
      // driver fast path first: both endpoints are KNOWN ids, so the
      // merge folds straight through the edge write buffer (the
      // buffered upsert of UNWIND … MATCH … MERGE, ~3 bounded jobs
      // instead of the MATCH…MERGE machinery's ~15 — r14 verdict #3).
      // Shapes it declines (distributed delta, null ident values,
      // non-scalar property values, a value that does not fit its
      // column) fall back to the ordinary synthesized statement.
      val handled = session.mergeRelByIds(sid, did, relType, identProps, onCreate, onMatch)
      if (!handled) {
        val stmt = s"MATCH (a), (b) WHERE id(a) = $$_sid AND id(b) = $$_did " +
          s"MERGE (a)-[r:$relType$pat]->(b)$ocTxt$omTxt"
        val params: Map[String, Any] =
          Map("_sid" -> sid, "_did" -> did) ++
            onCreate.map { case (k, v) => s"_oc_$k" -> v } ++
            onMatch.map { case (k, v) => s"_om_$k" -> v }
        session.cypher(stmt, params)
      }
      procs.oneRow("src" -> sid, "dst" -> did)
    }
    // apoc.cypher.run — a DYNAMIC read statement (statements built at
    // runtime: introspection dashboards, generic tooling). Documented
    // divergence: APOC yields each row as a MAP `value`; this engine's
    // map values are typed structs whose shape must be known at
    // compile time, so the dynamic row serializes to a JSON text
    // `value` instead. Mutating statements refuse loudly (APOC's
    // run() is read-only too; apoc.periodic.iterate is the write
    // driver).
    procs.register("apoc.cypher.run",
      "(statement :: STRING, params :: MAP?) :: (value)",
      "Run a dynamic read statement; each row yields as a JSON text value") { args =>
      import org.apache.spark.sql.functions.{col, struct, to_json}
      val stmt = String.valueOf(args.head)
      val params = args.lift(1) match {
        case Some(m: collection.Map[_, _]) =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      val parsed = graft.cypher.CypherParser.parse(stmt)
      if (parsed.clauses.exists(graft.cypher.ast.mutates)) throw new UnsupportedOperationException(
        "apoc.cypher.run is read-only — drive writes through " +
          "apoc.periodic.iterate / apoc.periodic.commit")
      val df = session.cypher(stmt, params)
      df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))
    }
    // apoc.cypher.doIt — the WRITE variant: same dynamic dispatch, the
    // statement may mutate (it commits through the ordinary mutation
    // paths, delta-shaped where they are)
    procs.register("apoc.cypher.doIt",
      "(statement :: STRING, params :: MAP?) :: (value)",
      "Run a dynamic statement (writes allowed); rows yield as JSON text") { args =>
      import org.apache.spark.sql.functions.{col, struct, to_json}
      val stmt = String.valueOf(args.head)
      val params = args.lift(1) match {
        case Some(m: collection.Map[_, _]) =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      val df = session.cypher(stmt, params)
      df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))
    }
    // apoc.do.when — the conditional dynamic dispatcher (ETL guard
    // rails: "if the row exists do X else Y"). The chosen branch runs
    // through the ordinary statement paths (writes allowed — this is
    // the do.* family; apoc.when's read-only twin is served by the
    // caller using apoc.cypher.run). Rows yield as JSON text, the
    // apoc.cypher.run divergence documented there.
    procs.registerWithParams("apoc.do.when",
      Seq(procs.Param("condition"), procs.Param("ifQuery"),
        procs.Param("elseQuery", Some("")),
        procs.Param("params", Some(Map.empty[String, Any]))),
      "(condition :: BOOLEAN, ifQuery :: STRING, elseQuery :: STRING?, " +
        "params :: MAP?) :: (value)",
      "Run ifQuery when the condition holds, else elseQuery (writes allowed)") { args =>
      import org.apache.spark.sql.functions.{col, struct, to_json, lit}
      val cond = args(0) match {
        case b: Boolean => b
        case other => throw new IllegalArgumentException(
          s"apoc.do.when condition must be a boolean, got $other")
      }
      val stmt = String.valueOf(if (cond) args(1) else args(2))
      val params = args(3) match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      if (stmt.trim.isEmpty)
        session.spark.range(0).select(lit("").as("value"))
      else {
        val df = session.cypher(stmt, params)
        df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))
      }
    }
    // apoc.when / apoc.case — the READ-ONLY conditional dispatchers
    // (apoc.do.* are the write twins): the chosen branch must not
    // mutate, enforced by the same AST gate apoc.cypher.run uses.
    def readOnlyStatement(stmt: String, params: Map[String, Any],
        what: String): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.{col, struct, to_json, lit}
      if (stmt.trim.isEmpty)
        return session.spark.range(0).select(lit("").as("value"))
      val parsed = graft.cypher.CypherParser.parse(stmt)
      if (parsed.clauses.exists(graft.cypher.ast.mutates)) throw new UnsupportedOperationException(
        s"$what is read-only — use the apoc.do.* write twins")
      val df = session.cypher(stmt, params)
      df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))
    }
    procs.registerWithParams("apoc.when",
      Seq(procs.Param("condition"), procs.Param("ifQuery"),
        procs.Param("elseQuery", Some("")),
        procs.Param("params", Some(Map.empty[String, Any]))),
      "(condition :: BOOLEAN, ifQuery :: STRING, elseQuery :: STRING?, " +
        "params :: MAP?) :: (value)",
      "Run the read-only ifQuery when the condition holds, else elseQuery") { args =>
      val cond = args(0) match {
        case b: Boolean => b
        case other => throw new IllegalArgumentException(
          s"apoc.when condition must be a boolean, got $other")
      }
      val params = args(3) match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      readOnlyStatement(String.valueOf(if (cond) args(1) else args(2)),
        params, "apoc.when")
    }
    procs.registerWithParams("apoc.case",
      Seq(procs.Param("conditionals"), procs.Param("elseQuery", Some("")),
        procs.Param("params", Some(Map.empty[String, Any]))),
      "(conditionals :: LIST<ANY> [cond1, query1, cond2, query2, …], " +
        "elseQuery :: STRING?, params :: MAP?) :: (value)",
      "Run the first read-only query whose condition holds, else elseQuery") { args =>
      val pairs = args(0) match {
        case s: Seq[_] =>
          if (s.size % 2 != 0) throw new IllegalArgumentException(
            "apoc.case conditionals must alternate [condition, query, …]")
          s.grouped(2).map { case Seq(c, q) => (c, String.valueOf(q)) }.toSeq
        case other => throw new IllegalArgumentException(
          s"apoc.case needs a conditionals list, got $other")
      }
      val params = args(2) match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      val chosen = pairs.collectFirst {
        case (c: Boolean, q) if c => q
      }.getOrElse(String.valueOf(args(1)))
      readOnlyStatement(chosen, params, "apoc.case")
    }
    // apoc.create.node / apoc.create.relationship — the CREATE siblings
    // of apoc.merge.*: dynamic labels/relType (identifier-validated —
    // they interpolate), property VALUES as parameters. Unconditional
    // creates, so parallel same-shape calls mint distinct entities
    // (the merge.* procedures are the upsert forms).
    procs.registerWithParams("apoc.create.node",
      Seq(procs.Param("labels"), procs.Param("props", Some(Map.empty[String, Any]))),
      "(labels :: LIST<STRING>, props :: MAP?) :: (id)",
      "CREATE a node with runtime labels/props; returns its id") { args =>
      val IdentRx = "^[A-Za-z_][A-Za-z0-9_]*$".r
      def ident(s: Any, what: String): String = {
        val v = String.valueOf(s)
        if (IdentRx.findFirstIn(v).isEmpty) throw new IllegalArgumentException(
          s"apoc.create.node $what `$v` must be a plain identifier")
        v
      }
      val labels = args.head match {
        case s: Seq[_] if s.nonEmpty => s.map(ident(_, "label"))
        case other => throw new IllegalArgumentException(
          s"apoc.create.node needs a non-empty label list, got $other")
      }
      val props = args(1) match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      props.keys.foreach(ident(_, "property key"))
      val pat =
        if (props.isEmpty) ""
        else " {" + props.keys.map(k => s"$k: $$_p_$k").mkString(", ") + "}"
      session.cypher(
        s"CREATE (n:${labels.mkString(":")}$pat) RETURN id(n) AS id",
        props.map { case (k, v) => s"_p_$k" -> v })
    }
    procs.registerWithParams("apoc.create.relationship",
      Seq(procs.Param("startNode"), procs.Param("relationshipType"),
        procs.Param("props", Some(Map.empty[String, Any])),
        procs.Param("endNode")),
      "(startNode :: INTEGER, relationshipType :: STRING, props :: MAP?, " +
        "endNode :: INTEGER) :: (src, dst)",
      "CREATE a relationship of a runtime type between two node ids") { args =>
      val IdentRx = "^[A-Za-z_][A-Za-z0-9_]*$".r
      def ident(s: Any, what: String): String = {
        val v = String.valueOf(s)
        if (IdentRx.findFirstIn(v).isEmpty) throw new IllegalArgumentException(
          s"apoc.create.relationship $what `$v` must be a plain identifier")
        v
      }
      def nodeId(a: Any, what: String): Long = a match {
        case n: Number => n.longValue()
        case other => throw new IllegalArgumentException(
          s"apoc.create.relationship $what must be a node id, got $other")
      }
      val sid = nodeId(args(0), "startNode")
      val relType = ident(args(1), "relationship type")
      val props = args(2) match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      val did = nodeId(args(3), "endNode")
      props.keys.foreach(ident(_, "property key"))
      val pat =
        if (props.isEmpty) ""
        else " {" + props.keys.map(k => s"$k: $$_p_$k").mkString(", ") + "}"
      session.cypher(
        s"MATCH (a), (b) WHERE id(a) = $$_sid AND id(b) = $$_did " +
          s"CREATE (a)-[r:$relType$pat]->(b)",
        Map[String, Any]("_sid" -> sid, "_did" -> did) ++
          props.map { case (k, v) => s"_p_$k" -> v })
      procs.oneRow("src" -> sid, "dst" -> did)
    }
    // apoc.refactor.mergeNodes — the dedup-ETL verb: merge duplicate
    // nodes into the FIRST listed id; relationships re-point through
    // the eid-keyed edge delta, labels union, properties merge per
    // config.properties (discard | overwrite | combine — combine
    // fills nulls, the documented divergence from APOC's
    // array-collecting mode), duplicates tombstone. Core in
    // GraftSession.refactorMergeNodes (one distributed fold per side).
    procs.registerWithParams("apoc.refactor.mergeNodes",
      Seq(procs.Param("nodes"), procs.Param("config", Some(Map.empty[String, Any]))),
      "(nodes :: LIST<INTEGER>, config :: MAP?) :: (id)",
      "Merge the listed node ids into the first; returns the kept id") { args =>
      val ids = args(0) match {
        case s: Seq[_] if s.nonEmpty => s.map {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"apoc.refactor.mergeNodes needs node ids, got $other")
        }
        case other => throw new IllegalArgumentException(
          s"apoc.refactor.mergeNodes needs a non-empty id list, got $other")
      }
      val mode = args(1) match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]]
            .get("properties").map(String.valueOf).getOrElse("discard")
        case _ => "discard"
      }
      if (!Set("discard", "overwrite", "combine").contains(mode))
        throw new IllegalArgumentException(
          s"apoc.refactor.mergeNodes properties mode must be discard | overwrite | combine, got $mode")
      procs.oneRow("id" -> session.refactorMergeNodes(ids, mode))
    }
    // apoc.refactor.cloneNodes — duplicate nodes (labels + properties,
    // optional relationship copies with fresh eids); the natural next
    // refactor verb after mergeNodes in dedup-ETL chains. Core in
    // GraftSession.refactorCloneNodes (delta folds, constraint-checked).
    procs.registerWithParams("apoc.refactor.cloneNodes",
      Seq(procs.Param("nodes"),
        procs.Param("withRelationships", Some(false)),
        procs.Param("skipProperties", Some(Seq.empty[Any]))),
      "(nodes :: LIST<INTEGER>, withRelationships :: BOOLEAN?, " +
        "skipProperties :: LIST<STRING>?) :: (input, output)",
      "Clone the listed nodes; returns (original id, clone id) rows") { args =>
      val ids = args(0) match {
        case s: Seq[_] if s.nonEmpty => s.map {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"apoc.refactor.cloneNodes needs node ids, got $other")
        }
        case other => throw new IllegalArgumentException(
          s"apoc.refactor.cloneNodes needs a non-empty id list, got $other")
      }
      val withRels = args(1) match {
        case b: Boolean => b
        case s => String.valueOf(s).equalsIgnoreCase("true")
      }
      val skip = args(2) match {
        case s: Seq[_] => s.map(String.valueOf).toSet
        case _         => Set.empty[String]
      }
      if (skip.exists(Set("id", "labels").contains))
        throw new IllegalArgumentException(
          "apoc.refactor.cloneNodes skipProperties cannot name entity identity")
      val pairs = session.refactorCloneNodes(ids, withRels, skip)
      procs.rows(Seq("input", "output"),
        pairs.map { case (o, c) => Seq[Any](o, c) })
    }
    // apoc.refactor.to / .from — re-point one end of a relationship
    // through the eid-keyed edge delta. Relationship identity (eid)
    // is preserved — documented divergence from current APOC, which
    // re-creates under a fresh id.
    procs.register("apoc.refactor.to", "(rel :: INTEGER, endNode :: INTEGER) :: (id)",
      "Re-point the relationship's END node; returns the relationship id") { args =>
      procs.oneRow("id" -> session.refactorRepoint(
        String.valueOf(args.head).toLong, String.valueOf(args(1)).toLong, "to"))
    }
    procs.register("apoc.refactor.from", "(rel :: INTEGER, startNode :: INTEGER) :: (id)",
      "Re-point the relationship's START node; returns the relationship id") { args =>
      procs.oneRow("id" -> session.refactorRepoint(
        String.valueOf(args.head).toLong, String.valueOf(args(1)).toLong, "from"))
    }
    // apoc.refactor.setType / .invert — the remaining high-traffic
    // refactor verbs (r15 verdict #6), both eid-keyed replacement-row
    // folds on the to/from plumbing. Identity (eid) preserved —
    // the same documented divergence from APOC's re-create-under-a-
    // fresh-id as refactor.to/.from.
    procs.register("apoc.refactor.setType", "(rel :: INTEGER, newType :: STRING) :: (id)",
      "Change the relationship's type in place; returns the relationship id") { args =>
      procs.oneRow("id" -> session.refactorSetType(
        String.valueOf(args.head).toLong, String.valueOf(args(1))))
    }
    procs.register("apoc.refactor.invert", "(rel :: INTEGER) :: (id)",
      "Swap the relationship's stored orientation; returns the relationship id") { args =>
      procs.oneRow("id" -> session.refactorInvert(String.valueOf(args.head).toLong))
    }
    // apoc.refactor.rename.* — the bulk ETL renames: one distributed
    // filter each, O(matching) replacement rows through the delta-log
    // (the 100 TB base is never rewritten for a schema-hygiene pass)
    procs.register("apoc.refactor.rename.type",
      "(oldType :: STRING, newType :: STRING) :: (total)",
      "Rename every relationship of a type; returns the renamed count") { args =>
      procs.oneRow("total" -> session.refactorRenameType(
        String.valueOf(args.head), String.valueOf(args(1))))
    }
    procs.register("apoc.refactor.rename.label",
      "(oldLabel :: STRING, newLabel :: STRING) :: (total)",
      "Rename a label on every node carrying it; returns the renamed count") { args =>
      procs.oneRow("total" -> session.refactorRenameLabel(
        String.valueOf(args.head), String.valueOf(args(1))))
    }
    procs.register("apoc.refactor.rename.nodeProperty",
      "(oldName :: STRING, newName :: STRING) :: (total)",
      "Rename a node property wherever non-null; returns the renamed count") { args =>
      procs.oneRow("total" -> session.refactorRenameNodeProperty(
        String.valueOf(args.head), String.valueOf(args(1))))
    }
    procs.register("apoc.refactor.rename.typeProperty",
      "(oldName :: STRING, newName :: STRING) :: (total)",
      "Rename a relationship property wherever non-null; returns the renamed count") { args =>
      procs.oneRow("total" -> session.refactorRenameTypeProperty(
        String.valueOf(args.head), String.valueOf(args(1))))
    }
    // apoc.schema.assert — init scripts' idempotent "make the schema
    // exactly this": wanted NODE RANGE indexes / uniqueness
    // constraints create (IF NOT EXISTS), existing ones not listed
    // DROP (APOC's dropExisting default). Other kinds (TEXT/VECTOR/
    // FULLTEXT/relationship) are left untouched — they have their own
    // DDL surfaces and APOC's assert never managed them either.
    procs.registerWithParams("apoc.schema.assert",
      Seq(procs.Param("indexes", Some(Map.empty[String, Any])),
        procs.Param("constraints", Some(Map.empty[String, Any]))),
      "(indexes :: MAP<STRING, LIST<STRING>>?, constraints :: " +
        "MAP<STRING, LIST<STRING>>?) :: (label, key, unique, action)",
      "Assert the schema: create the listed RANGE indexes/uniqueness " +
        "constraints, drop unlisted ones; returns one row per change") { args =>
      def asMap(a: Any, what: String): Map[String, Seq[String]] = a match {
        case null => Map.empty
        case m: collection.Map[_, _] => m.map { case (k, v) =>
          String.valueOf(k) -> (v match {
            case s: Seq[_] => s.map(String.valueOf)
            case other => throw new IllegalArgumentException(
              s"apoc.schema.assert $what values must be LIST<STRING>, got $other")
          })
        }.toMap
        case other => throw new IllegalArgumentException(
          s"apoc.schema.assert $what must be a map, got $other")
      }
      def ident(s: String, what: String): String = {
        if ("^[A-Za-z_][A-Za-z0-9_]*$".r.findFirstIn(s).isEmpty)
          throw new IllegalArgumentException(
            s"apoc.schema.assert $what `$s` must be a plain identifier")
        s
      }
      val wantIdx = asMap(args(0), "indexes")
        .map { case (l, ps) => ident(l, "label") -> ps.map(ident(_, "property")) }
      val wantCons = asMap(args(1), "constraints")
        .map { case (l, ps) => ident(l, "label") -> ps.map(ident(_, "property")) }
      val rows = collection.mutable.ArrayBuffer.empty[Seq[Any]]
      // nested dispatch pins the STATEMENT database: `USE otherdb
      // CALL apoc.schema.assert(...)` must inspect and mutate that
      // database's schema, not the default (ADVICE r16 #5)
      val assertDb = session.statementDbName
      def run(q: String) = session.cypher(q, Map.empty[String, Any], assertDb)
      def existing(show: String, wantType: String): Seq[(String, String, String)] =
        run(show).collect().toSeq
          .filter(r => r.getString(r.fieldIndex("entityType")) == "NODE" &&
            r.getString(r.fieldIndex("type")) == wantType)
          .map(r => (r.getString(r.fieldIndex("name")),
            r.getString(r.fieldIndex("labelsOrTypes")),
            r.getString(r.fieldIndex("properties"))))
      def sync(wanted: Map[String, Seq[String]], unique: Boolean): Unit = {
        val (show, wantType) =
          if (unique) ("SHOW CONSTRAINTS", "UNIQUENESS") else ("SHOW INDEXES", "RANGE")
        val have = existing(show, wantType)
        val wantedPairs = wanted.flatMap { case (l, ps) => ps.map(l -> _) }.toSet
        have.foreach { case (name, l, p) =>
          if (wantedPairs.contains(l -> p))
            rows += Seq(l, p, unique, "KEPT")
          else {
            run((if (unique) "DROP CONSTRAINT " else "DROP INDEX ") + name)
            rows += Seq(l, p, unique, "DROPPED")
          }
        }
        val havePairs = have.map(e => (e._2, e._3)).toSet
        wantedPairs.toSeq.sorted.foreach { case (l, p) =>
          if (!havePairs.contains(l -> p)) {
            if (unique) run(
              s"CREATE CONSTRAINT assert_uniq_${l}_$p IF NOT EXISTS " +
                s"FOR (n:$l) REQUIRE n.$p IS UNIQUE")
            else run(
              s"CREATE INDEX assert_idx_${l}_$p IF NOT EXISTS " +
                s"FOR (n:$l) ON (n.$p)")
            rows += Seq(l, p, unique, "CREATED")
          }
        }
      }
      sync(wantIdx, unique = false)
      sync(wantCons, unique = true)
      procs.rows(Seq("label", "key", "unique", "action"), rows.toSeq)
    }
    // apoc.periodic.commit — loop a SELF-BOUNDED mutating statement
    // until it reports no more work (APOC's contract: the statement
    // bounds itself, canonically `MATCH … WITH n LIMIT $k … DELETE n
    // RETURN count(*)`, and the loop ends on the first 0). Each pass
    // is one distributed statement committing its own snapshot swap,
    // so at scale the statement's LIMIT is the knob bounding per-commit
    // work. A pass cap refuses loudly on non-decreasing statements
    // instead of spinning forever.
    procs.registerWithParams("apoc.periodic.commit",
      Seq(procs.Param("statement"),
        procs.Param("params", Some(Map.empty[String, Any]))),
      "(statement :: STRING, params :: MAP) :: (executions, updates)",
      "Repeat a LIMIT-bounded mutating statement until it returns 0") { args =>
      val stmt = String.valueOf(args(0))
      val params = args(1) match {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[String, Any]].toMap
        case _ => Map.empty[String, Any]
      }
      var executions = 0L
      var updates = 0L
      var last = -1L
      val maxPasses = 10000
      while (last != 0L) {
        if (executions >= maxPasses) throw new IllegalStateException(
          s"apoc.periodic.commit did not drain after $maxPasses passes — " +
            "the statement's RETURN count is not decreasing")
        val rows = session.cypher(stmt, params).collect()
        last = rows.headOption.map(_.get(0)).map {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"apoc.periodic.commit statement must RETURN a count, got $other")
        }.getOrElse(0L)
        executions += 1
        updates += last
      }
      procs.oneRow("executions" -> executions, "updates" -> updates)
    }
    // file imports, gated like exports (apoc.import.file.enabled)
    def requireImportEnabled(): Unit = {
      val enabled = session.config.flatMap(_.setting("apoc.import.file.enabled"))
        .orElse(session.settings.get("apoc.import.file.enabled"))
        .contains("true")
      if (!enabled) throw new IllegalStateException(
        "Import from files not enabled, please set apoc.import.file.enabled=true in your apoc.conf")
    }
    procs.register("apoc.load.json", "(file :: STRING) :: (value)",
      "One row per JSON object (JSON-lines or array file); the object as `value`") { args =>
      requireImportEnabled()
      val df = session.spark.read.option("multiLine", "true").json(String.valueOf(args.head))
      df.select(struct(df.columns.map(col).toIndexedSeq: _*).as("value"))
    }
    procs.register("apoc.load.csv",
      "(file :: STRING) :: (lineNo, list, map)",
      "Header-driven CSV rows as positional list + header-keyed map") { args =>
      requireImportEnabled()
      val df = session.spark.read.option("header", "true").csv(String.valueOf(args.head))
      val cols = df.columns.toIndexedSeq
      // lineNo rides the scan order of the single import file — this
      // is the operational config-import surface, not a bulk path
      val w = org.apache.spark.sql.expressions.Window.orderBy(monotonically_increasing_id())
      df.select(
        (row_number().over(w) - 1).cast("long").as("lineNo"),
        array(cols.map(c => col(c).cast("string")): _*).as("list"),
        map(cols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*).as("map"))
    }
    procs.register("apoc.help", "(name :: STRING) :: (name, signature, description)",
      "Procedures matching a name fragment") { args =>
      val frag = args.headOption.map(String.valueOf).getOrElse("")
      procs.asDataFrame.filter(col("name").contains(frag))
    }
    // export gated by apoc.export.file.enabled (ref Configuration.java:13)
    procs.register("apoc.export.csv.all", "(file :: STRING) :: (file, rows)",
      "Export all nodes to CSV (requires apoc.export.file.enabled)") { args =>
      val enabled = session.config.flatMap(_.setting("apoc.export.file.enabled"))
        .orElse(session.settings.get("apoc.export.file.enabled"))
        .contains("true")
      if (!enabled) throw new IllegalStateException(
        "Export to files not enabled, please set apoc.export.file.enabled=true in your apoc.conf")
      val file = String.valueOf(args.head)
      val nodes = session.statementGraph().nodes
      // CSV has no array type: stringify labels (apoc's CSV export
      // flattens the same way)
      val flat = nodes.withColumn("labels", concat_ws(";", col("labels")))
      flat.write.mode("overwrite").option("header", "true").csv(file)
      procs.oneRow("file" -> file, "rows" -> nodes.count())
    }
    procs.register("apoc.export.json.all", "(file :: STRING) :: (file, nodes, relationships)",
      "Export nodes and relationships as JSON lines (requires apoc.export.file.enabled)") { args =>
      val enabled = session.config.flatMap(_.setting("apoc.export.file.enabled"))
        .orElse(session.settings.get("apoc.export.file.enabled"))
        .contains("true")
      if (!enabled) throw new IllegalStateException(
        "Export to files not enabled, please set apoc.export.file.enabled=true in your apoc.conf")
      val file = String.valueOf(args.head)
      val g = session.statementGraph()
      // apoc's jsonl shape: one object per line, type-discriminated —
      // node/relationship sections side by side; a distributed write
      // per section (JSON keeps arrays, unlike the CSV flattening)
      g.nodes.withColumn("type", lit("node"))
        .write.mode("overwrite").json(s"$file/nodes")
      g.edges.withColumn("type", lit("relationship"))
        .write.mode("overwrite").json(s"$file/relationships")
      procs.oneRow("file" -> file, "nodes" -> g.nodes.count(),
        "relationships" -> g.edges.count())
    }

    // ---- apoc.path.* — the filtered path-expander family (apoc's
    // most-used traversal procedures). All three share Gds.filteredBfs
    // (level-synchronous BFS, NODE_GLOBAL uniqueness); the filter
    // mini-language subsets and the deterministic min-id spanning
    // parent are documented there. maxLevel -1 = unbounded (apoc's
    // default), safe because BFS visits each node once.
    val spark0 = session.spark
    def optStr(args: Seq[Any], i: Int): Option[String] =
      args.lift(i).map(String.valueOf).map(_.trim).filter(_.nonEmpty)
    def optInt(args: Seq[Any], i: Int, default: Int): Int =
      args.lift(i).map(String.valueOf(_).toInt).getOrElse(default)
    procs.register("apoc.path.subgraphNodes",
      "(start :: INTEGER, relationshipFilter :: STRING?, maxLevel :: INTEGER?, " +
        "labelFilter :: STRING?) :: (node_id, level)",
      "Distinct nodes reachable from start within maxLevel filtered hops; " +
        "level = BFS depth of first discovery") { args =>
      val start = String.valueOf(args.head).toLong
      Gds.filteredBfs(spark0, session.statementGraph(), start, optStr(args, 1),
        optStr(args, 3), optInt(args, 2, -1)).select("node_id", "level")
    }
    procs.register("apoc.path.spanningTree",
      "(start :: INTEGER, relationshipFilter :: STRING?, maxLevel :: INTEGER?, " +
        "labelFilter :: STRING?) :: (node_id, parent_id, level)",
      "BFS spanning tree from start: each discovered node with its " +
        "smallest-id discovering neighbor (deterministic parent choice)") { args =>
      val start = String.valueOf(args.head).toLong
      Gds.filteredBfs(spark0, session.statementGraph(), start, optStr(args, 1),
        optStr(args, 3), optInt(args, 2, -1))
    }
    procs.register("apoc.path.expandConfig",
      "(start :: INTEGER, relationshipFilter :: STRING?, labelFilter :: STRING?, " +
        "minLevel :: INTEGER?, maxLevel :: INTEGER?, uniqueness :: STRING?) :: (node_id, level)",
      "Filtered expansion from start under NODE_GLOBAL uniqueness " +
        "(the one uniqueness mode this engine serves), minLevel..maxLevel") { args =>
      val start = String.valueOf(args.head).toLong
      val uniq = optStr(args, 5).getOrElse("NODE_GLOBAL")
      if (uniq != "NODE_GLOBAL") throw new UnsupportedOperationException(
        s"apoc.path.expandConfig supports uniqueness NODE_GLOBAL only, got $uniq " +
          "(RELATIONSHIP_PATH trail semantics are served by MATCH var-length patterns)")
      val minLevel = optInt(args, 3, 0)
      import org.apache.spark.sql.functions.{col, lit}
      Gds.filteredBfs(spark0, session.statementGraph(), start, optStr(args, 1),
        optStr(args, 2), optInt(args, 4, -1))
        .filter(col("level") >= lit(minLevel.toLong))
        .select("node_id", "level")
    }
  }

  // ---- graph-data-science (GraphX; SURVEY §2.5) ----

  private def installGds(session: GraftSession): Unit = {
    val procs = session.procedures
    val spark = session.spark
    def relTypeArg(args: Seq[Any], i: Int): Option[String] =
      args.lift(i).map(String.valueOf).filter(s => s.nonEmpty && s != "*")
    // GDS workflow fidelity: the first argument may name a PROJECTED
    // graph (gds.graph.project) instead of a relType over the session
    // default — the projected view is already filtered, so algorithms
    // see relType=None. Unknown strings keep the legacy relType
    // meaning, so every existing CALL is unchanged.
    def graphArg(args: Seq[Any], i: Int): (graft.core.PropertyGraph, Option[String]) =
      args.lift(i).map(String.valueOf).filter(_.nonEmpty) match {
        case Some(name) if session.projectedGraphs.contains(name) =>
          (session.projectedGraphs(name), None)
        case other => (session.statementGraph(), other.filter(_ != "*"))
      }
    procs.register("gds.graph.project",
      "(graphName :: STRING, nodeLabel :: STRING?, relType :: STRING?, " +
        "relationshipProperties :: STRING?) :: " +
        "(graphName, nodeCount, relationshipCount)",
      "Project a named label/relType-filtered graph view ('*' = all); " +
        "relationshipProperties (comma-separated) declares the edge " +
        "properties weighted algorithms may read") { args =>
      import org.apache.spark.sql.functions.col
      val name = String.valueOf(args.head)
      val label = relTypeArg(args, 1)
      val rel = relTypeArg(args, 2)
      val base = session.statementGraph()
      val nodes = label.map(base.nodesWithLabel).getOrElse(base.nodes)
      val ids = nodes.select(col("id"))
      val typed = rel.map(base.edgesOfType).getOrElse(base.edges)
      // projection keeps only edges whose BOTH endpoints survive the
      // node filter — two keyed semi joins, the GDS contract
      val edges0 = typed
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      // relationshipProperties declared (GDS calling convention): the
      // projected edge set keeps ONLY topology + the declared
      // properties — at scale that is a narrower shuffle/cache
      // footprint AND the contract that weighted algorithms read only
      // what was projected. Undeclared names refuse loudly.
      val edges = relTypeArg(args, 3) match {
        case Some(propList) =>
          val ps = propList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val missing = ps.filterNot(edges0.columns.contains)
          if (missing.nonEmpty) throw new IllegalArgumentException(
            s"relationshipProperties ${missing.mkString(", ")} not found " +
              "on the relationship set")
          val keep = (graft.core.PropertyGraph.edgeBaseSchema.fieldNames.toSeq ++ ps).distinct
          edges0.select(keep.map(col): _*)
        case None => edges0
      }
      // MATERIALIZE at project time — the GDS contract (a named
      // projection IS an in-memory graph): iterative algorithms then
      // read checkpointed rows instead of re-running the two semi
      // joins per iteration, and the counts below come free. Dropped
      // projections release with GC (localCheckpoint, no cache entry).
      val matNodes = nodes.localCheckpoint()
      val matEdges = edges.localCheckpoint()
      val g = graft.core.PropertyGraph(matNodes, matEdges)
      session.projectedGraphs(name) = g
      procs.oneRow("graphName" -> name, "nodeCount" -> matNodes.count(),
        "relationshipCount" -> matEdges.count())
    }
    procs.register("gds.graph.list", "() :: (graphName, nodeCount, relationshipCount)",
      "List projected graphs") { _ =>
      import spark.implicits._
      session.projectedGraphs.toSeq.sortBy(_._1)
        .map { case (n, g) => (n, g.nodes.count(), g.edges.count()) }
        .toDF("graphName", "nodeCount", "relationshipCount")
    }
    procs.register("gds.graph.drop", "(graphName :: STRING) :: (graphName)",
      "Drop a projected graph") { args =>
      val name = String.valueOf(args.head)
      if (session.projectedGraphs.remove(name).isEmpty)
        throw new NoSuchElementException(s"Graph with name `$name` does not exist")
      procs.oneRow("graphName" -> name)
    }
    procs.register("gds.localClusteringCoefficient",
      "(relType :: STRING?) :: (node_id, triangles, degree, ilcc)",
      "Per-node local clustering coefficient 2·triangles·1e6 // (deg·(deg−1))") { args =>
      Gds.localClusteringCoefficient(spark, graphArg(args, 0)._1, graphArg(args, 0)._2)
    }
    procs.register("gds.modularity",
      "(relType :: STRING?, communityProperty :: STRING?) :: " +
        "(community, e_in, vol, iq1m)",
      "Per-community modularity of a stored community assignment; " +
        "iq1m = floor((4·m·e_in − vol² + 4·m²)·1e6 / (4·m²)) — the " +
        "community's Q term shifted +1, scaled 1e6 (exact Long)") { args =>
      val prop = args.lift(1).map(String.valueOf).getOrElse("community")
      Gds.modularity(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, prop)
    }
    procs.register("gds.conductance",
      "(relType :: STRING?, communityProperty :: STRING?) :: " +
        "(community, cut, vol, icond1m)",
      "Per-community conductance: icond1m = floor(cut·1e6 / " +
        "min(vol, 2m − vol)), 0 when the min side is empty") { args =>
      val prop = args.lift(1).map(String.valueOf).getOrElse("community")
      Gds.conductance(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, prop)
    }
    procs.register("gds.pageRank",
      "(relType :: STRING?, iterations :: INTEGER?, relationshipWeightProperty :: STRING?) " +
        ":: (node_id, iscore)",
      "PageRank over the property graph; an optional relationship " +
        "weight property splits each rank proportionally to edge weight") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(20)
      val (g, rel) = graphArg(args, 0)
      relTypeArg(args, 2) match {
        case Some(wp) => Gds.pageRankWeighted(spark, g, rel, iters, wp)
        case None     => Gds.pageRank(spark, g, rel, iters)
      }
    }
    // GDS WRITE mode — the algorithm's scores fold straight back onto
    // the statement database's nodes as a property (full replacement
    // rows through the node delta-log: every scored node's row
    // genuinely changes, so the delta is O(scored) — a later save
    // persists it incrementally, compaction folds it, downstream
    // Cypher reads it like any property). The write property must be
    // a plain identifier (it becomes a column name).
    def writeProp(raw: Any, default: String, what: String,
        meta: Set[String] = Set("id", "labels") ++ graft.core.PropertyGraph.MetaDeltaCols): String = {
      val v = Option(raw).map(String.valueOf).filter(_.nonEmpty).getOrElse(default)
      if ("^[A-Za-z_][A-Za-z0-9_]*$".r.findFirstIn(v).isEmpty)
        throw new IllegalArgumentException(
          s"$what writeProperty `$v` must be a plain identifier")
      // meta columns are entity identity / delta-log metadata, not
      // properties: writing `id` or `labels` through withColumn would
      // corrupt the table via replacement rows (ADVICE r14 — SET n =
      // {map} refuses exactly this class, the write verbs must too)
      if (meta.contains(v)) throw new IllegalArgumentException(
        s"$what writeProperty `$v` is entity identity, not a property")
      v
    }
    procs.register("gds.pageRank.write",
      "(relType :: STRING?, iterations :: INTEGER?, writeProperty :: STRING?, " +
        "relationshipWeightProperty :: STRING?) :: (nodePropertiesWritten, writeProperty)",
      "PageRank, scores written back as a node property via the delta-log") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(20)
      val prop = writeProp(args.lift(2).orNull, "pagerank", "gds.pageRank.write")
      val (g, rel) = graphArg(args, 0)
      val scored = relTypeArg(args, 3) match {
        case Some(wp) => Gds.pageRankWeighted(spark, g, rel, iters, wp)
        case None     => Gds.pageRank(spark, g, rel, iters)
      }
      val n = session.writeNodeProperty(scored, "node_id", "iscore", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.wcc.write",
      "(relType :: STRING?, writeProperty :: STRING?) :: (nodePropertiesWritten, writeProperty)",
      "Weakly connected components, written back as a node property") { args =>
      val prop = writeProp(args.lift(1).orNull, "component", "gds.wcc.write")
      val scored = Gds.wcc(spark, graphArg(args, 0)._1, graphArg(args, 0)._2)
      val n = session.writeNodeProperty(scored, "node_id", "component", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.degree", "(relType :: STRING?) :: (node_id, out_degree, in_degree)",
      "In/out degree centrality per node (DataFrame hash aggregation)") { args =>
      Gds.degree(spark, graphArg(args, 0)._1, graphArg(args, 0)._2)
    }
    // write-mode sweep (r14 verdict #5): each verb is its read-mode
    // algorithm + one writeNodeProperty fold — same delta-log cost
    // model as gds.pageRank.write
    procs.register("gds.louvain.write",
      "(relType :: STRING?, rounds :: INTEGER?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Louvain communities, written back as a node property") { args =>
      val rounds = args.lift(1).map(String.valueOf(_).toInt).getOrElse(3)
      val prop = writeProp(args.lift(2).orNull, "community", "gds.louvain.write")
      val scored = Gds.louvain(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, rounds)
      val n = session.writeNodeProperty(scored, "node_id", "community", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.labelPropagation.write",
      "(relType :: STRING?, iterations :: INTEGER?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Label-propagation communities, written back as a node property") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(5)
      val prop = writeProp(args.lift(2).orNull, "label_community", "gds.labelPropagation.write")
      val scored = Gds.labelPropagation(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
      val n = session.writeNodeProperty(scored, "node_id", "label", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.degree.write",
      "(relType :: STRING?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Out-degree centrality, written back as a node property " +
        "(GDS writes the orientation's degree; out is the default)") { args =>
      val prop = writeProp(args.lift(1).orNull, "degree", "gds.degree.write")
      val scored = Gds.degree(spark, graphArg(args, 0)._1, graphArg(args, 0)._2)
      val n = session.writeNodeProperty(scored, "node_id", "out_degree", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.eigenvector.write",
      "(relType :: STRING?, iterations :: INTEGER?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Eigenvector centrality, written back as a node property") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(10)
      val prop = writeProp(args.lift(2).orNull, "eigenvector", "gds.eigenvector.write")
      val scored = Gds.eigenvector(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
      val n = session.writeNodeProperty(scored, "node_id", "iscore", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.articleRank.write",
      "(relType :: STRING?, iterations :: INTEGER?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "ArticleRank, written back as a node property") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(20)
      val prop = writeProp(args.lift(2).orNull, "articlerank", "gds.articleRank.write")
      val scored = Gds.articleRank(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
      val n = session.writeNodeProperty(scored, "node_id", "iscore", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    // r15 verdict #2: the write family must not stop mid-sweep — a
    // user who adopted `.write` verbs hits the next algorithm
    // immediately. Each is its read-mode algorithm + one
    // writeNodeProperty fold, like the rest of the sweep.
    // BFS-family write verbs carry the read verbs' source sampling
    // (sampleMod/sampleK): exact all-pairs BFS is O(V·E) message
    // volume by definition, so the affordable-at-scale shape IS the
    // sampled one — same contract as gds.closeness/harmonic/betweenness.
    def bfsWriteArgs(args: Seq[Any], dIters: Int, dProp: String, what: String)
        : (Int, Long, Long, String) = (
      args.lift(1).map(String.valueOf(_).toInt).getOrElse(dIters),
      args.lift(2).map(String.valueOf(_).toLong).getOrElse(1L),
      args.lift(3).map(String.valueOf(_).toLong).getOrElse(1L),
      writeProp(args.lift(4).orNull, dProp, what))
    procs.register("gds.closeness.write",
      "(relType :: STRING?, maxIter :: INTEGER?, sampleMod :: INTEGER?, " +
        "sampleK :: INTEGER?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Closeness centrality, written back as a node property") { args =>
      val (iters, sm, sk, prop) = bfsWriteArgs(args, 10, "closeness", "gds.closeness.write")
      val scored = Gds.closeness(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters, sm, sk)
      val n = session.writeNodeProperty(scored, "node_id", "iscore", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.harmonic.write",
      "(relType :: STRING?, maxIter :: INTEGER?, sampleMod :: INTEGER?, " +
        "sampleK :: INTEGER?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Harmonic centrality, written back as a node property") { args =>
      val (iters, sm, sk, prop) = bfsWriteArgs(args, 10, "harmonic", "gds.harmonic.write")
      val scored = Gds.harmonic(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters, sm, sk)
      val n = session.writeNodeProperty(scored, "node_id", "hscore", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.betweenness.write",
      "(relType :: STRING?, maxIter :: INTEGER?, sampleMod :: INTEGER?, " +
        "sampleK :: INTEGER?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Betweenness (integer stress form), written back as a node property") { args =>
      val (iters, sm, sk, prop) = bfsWriteArgs(args, 6, "betweenness", "gds.betweenness.write")
      val scored = Gds.betweenness(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters, sm, sk)
      val n = session.writeNodeProperty(scored, "node_id", "stress", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.triangleCount.write",
      "(relType :: STRING?, writeProperty :: STRING?) " +
        ":: (nodePropertiesWritten, writeProperty)",
      "Per-node triangle count, written back as a node property") { args =>
      val prop = writeProp(args.lift(1).orNull, "triangles", "gds.triangleCount.write")
      val scored = Gds.triangleCount(spark, graphArg(args, 0)._1, graphArg(args, 0)._2)
      val n = session.writeNodeProperty(scored, "node_id", "triangles", prop)
      procs.oneRow("nodePropertiesWritten" -> n, "writeProperty" -> prop)
    }
    procs.register("gds.nodeSimilarity.write",
      "(relType :: STRING?, minScore :: INTEGER?, topK :: INTEGER?, " +
        "writeRelationshipType :: STRING?, writeProperty :: STRING?) " +
        ":: (relationshipsWritten, writeRelationshipType, writeProperty)",
      "Jaccard similarity written back as NEW typed relationships " +
        "(node1)-[:SIMILAR {score}]->(node2) through the edge delta-log") { args =>
      val minScore = args.lift(1).map(String.valueOf(_).toLong).getOrElse(1L)
      val topK = args.lift(2).map(String.valueOf(_).toLong).getOrElse(Long.MaxValue)
      val relType = args.lift(3).map(String.valueOf).filter(_.nonEmpty).getOrElse("SIMILAR")
      if ("^[A-Za-z_][A-Za-z0-9_]*$".r.findFirstIn(relType).isEmpty)
        throw new IllegalArgumentException(
          s"gds.nodeSimilarity.write writeRelationshipType `$relType` " +
            "must be a plain identifier")
      val prop = writeProp(args.lift(4).orNull, "score", "gds.nodeSimilarity.write",
        meta = Set("eid", "src", "dst", "relType") ++ graft.core.PropertyGraph.MetaDeltaCols)
      val scored = Gds.nodeSimilarity(spark, graphArg(args, 0)._1, graphArg(args, 0)._2,
        minScore, topK)
      val n = session.writeRelationships(scored, "node1", "node2", "ijac", relType, prop)
      procs.oneRow("relationshipsWritten" -> n, "writeRelationshipType" -> relType,
        "writeProperty" -> prop)
    }
    procs.register("gds.wcc", "(relType :: STRING?) :: (node_id, component)",
      "Weakly connected components (GraphX)") { args =>
      Gds.wcc(spark, graphArg(args, 0)._1, graphArg(args, 0)._2)
    }
    procs.register("gds.louvain",
      "(relType :: STRING?, rounds :: INTEGER?) :: (node_id, community)",
      "Synchronous modularity-gain community moves (integer-exact ΔQ, " +
        "fixed rounds; documented divergence from sequential float Louvain)") { args =>
      val rounds = args.lift(1).map(String.valueOf(_).toInt).getOrElse(3)
      Gds.louvain(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, rounds)
    }
    procs.register("gds.eigenvector",
      "(relType :: STRING?, iterations :: INTEGER?) :: (node_id, iscore)",
      "Eigenvector centrality by power iteration (undirected projection, " +
        "max-renormalized scaled-Long arithmetic, exact)") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(10)
      Gds.eigenvector(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
    }
    procs.register("gds.hits",
      "(relType :: STRING?, iterations :: INTEGER?) :: (node_id, ihub, iauth)",
      "HITS hubs & authorities over the directed edges " +
        "(max-renormalized scaled-Long arithmetic, exact)") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(8)
      Gds.hits(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
    }
    procs.register("gds.articleRank",
      "(relType :: STRING?, iterations :: INTEGER?) :: (node_id, iscore)",
      "ArticleRank (PageRank with average-degree damping), scaled-Long exact") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(20)
      Gds.articleRank(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
    }
    procs.register("gds.randomWalk",
      "(relType :: STRING?, steps :: INTEGER?, sampleMod :: INTEGER?) :: (start, step, node)",
      "Hash-determinized random walks from a sampled start set " +
        "(node2vec corpus prep; arithmetic step choice, no PRNG)") { args =>
      val (g, rt) = graphArg(args, 0)
      val steps = args.lift(1).map(String.valueOf(_).toInt).getOrElse(5)
      val mod = args.lift(2).map(String.valueOf(_).toLong).getOrElse(50L)
      Gds.randomWalk(spark, g, rt, steps, mod)
    }
    procs.register("gds.fastRP",
      "(relType :: STRING?, dims :: INTEGER?, rounds :: INTEGER?) :: (node_id, dim, ival)",
      "Integer FastRP-style node embeddings: deterministic sparse init, " +
        "neighbor-sum rounds (documented divergence: no float normalization)") { args =>
      val (g, rt) = graphArg(args, 0)
      val dims = args.lift(1).map(String.valueOf(_).toInt).getOrElse(8)
      val rounds = args.lift(2).map(String.valueOf(_).toInt).getOrElse(2)
      Gds.fastRP(spark, g, rt, dims, rounds)
    }
    procs.register("gds.scc", "(relType :: STRING?, iterations :: INTEGER?) :: (node_id, component)",
      "Strongly connected components over the directed edges (GraphX)") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(30)
      Gds.scc(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
    }
    procs.register("gds.shortestPath", "(landmark :: INTEGER, relType :: STRING?) :: (node_id, distance)",
      "Hop-distance to the landmark node (GraphX ShortestPaths)") { args =>
      val landmark = String.valueOf(args.head).toLong
      Gds.shortestPath(spark, graphArg(args, 1)._1, graphArg(args, 1)._2, landmark)
    }
    procs.register("gds.dijkstra",
      "(source :: INTEGER, relType :: STRING?, relationshipWeightProperty :: STRING?) " +
        ":: (node_id, cost)",
      "Weighted single-source shortest path over the undirected " +
        "projection (GraphX Pregel); the weight property defaults to " +
        "`weight` and must exist on the (projected) relationship set") { args =>
      val source = String.valueOf(args.head).toLong
      val (g, rel) = graphArg(args, 1)
      val wp = relTypeArg(args, 2).getOrElse("weight")
      if (!g.edges.columns.contains(wp)) throw new IllegalArgumentException(
        s"relationship weight property `$wp` is not present on the graph " +
          "(declare it via gds.graph.project relationshipProperties)")
      Gds.dijkstra(spark, g, rel, source, wp)
    }
    procs.register("gds.triangleCount", "(relType :: STRING?) :: (node_id, triangles)",
      "Per-node triangle count (GraphX)") { args =>
      Gds.triangleCount(spark, graphArg(args, 0)._1, graphArg(args, 0)._2)
    }
    procs.register("gds.labelPropagation",
      "(relType :: STRING?, iterations :: INTEGER?) :: (node_id, label)",
      "Synchronous label propagation, smallest-label tie-break") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(5)
      Gds.labelPropagation(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters)
    }
    procs.register("gds.nodeSimilarity",
      "(relType :: STRING?, minScore :: INTEGER?, topK :: INTEGER?) :: (node1, node2, ijac)",
      "Jaccard similarity of out-neighbor sets (scaled to 1e6)") { args =>
      val minScore = args.lift(1).map(String.valueOf(_).toLong).getOrElse(1L)
      val topK = args.lift(2).map(String.valueOf(_).toLong).getOrElse(Long.MaxValue)
      Gds.nodeSimilarity(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, minScore, topK)
    }
    procs.register("gds.resourceAllocation",
      "(relType :: STRING?, minScore :: INTEGER?, maxDeg :: INTEGER?) :: (node1, node2, ira)",
      "Resource-allocation link prediction over common neighbors (scaled to 1e6)") { args =>
      val minScore = args.lift(1).map(String.valueOf(_).toLong).getOrElse(1L)
      val maxDeg = args.lift(2).map(String.valueOf(_).toLong).getOrElse(Long.MaxValue)
      Gds.resourceAllocation(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, minScore, maxDeg)
    }
    // sampleMod/sampleK: deterministic source sampling (roots with
    // id % sampleMod < sampleK) — the Eppstein-Wang-style knob that
    // keeps centrality tractable on big graphs; defaults = exact.
    procs.register("gds.closeness",
      "(relType :: STRING?, maxIter :: INTEGER?, sampleMod :: INTEGER?, sampleK :: INTEGER?) :: (node_id, n_reachable, sum_dist, iscore)",
      "Within-component closeness centrality (iterative BFS, scaled to 1e6)") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(10)
      val sm = args.lift(2).map(String.valueOf(_).toLong).getOrElse(1L)
      val sk = args.lift(3).map(String.valueOf(_).toLong).getOrElse(1L)
      Gds.closeness(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters, sm, sk)
    }
    procs.register("gds.betweenness",
      "(relType :: STRING?, maxIter :: INTEGER?, sampleMod :: INTEGER?, sampleK :: INTEGER?) :: (node_id, stress)",
      "Bounded-horizon betweenness (integer stress form) over sampled sources") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(6)
      val sm = args.lift(2).map(String.valueOf(_).toLong).getOrElse(1L)
      val sk = args.lift(3).map(String.valueOf(_).toLong).getOrElse(1L)
      Gds.betweenness(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters, sm, sk)
    }
    procs.register("gds.kcore",
      "(relType :: STRING?, k :: INTEGER, rounds :: INTEGER?) :: (node_id, deg)",
      "k-core by synchronous peeling (fixed round budget)") { args =>
      val k = args.lift(1).map(String.valueOf(_).toLong).getOrElse(
        throw new IllegalArgumentException("gds.kcore: k is required"))
      val rounds = args.lift(2).map(String.valueOf(_).toInt).getOrElse(8)
      Gds.kcore(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, k, rounds)
    }
    procs.register("gds.harmonic",
      "(relType :: STRING?, maxIter :: INTEGER?, sampleMod :: INTEGER?, sampleK :: INTEGER?) :: (node_id, hscore)",
      "Harmonic centrality (iterative BFS, per-pair 1e6 div d)") { args =>
      val iters = args.lift(1).map(String.valueOf(_).toInt).getOrElse(10)
      val sm = args.lift(2).map(String.valueOf(_).toLong).getOrElse(1L)
      val sk = args.lift(3).map(String.valueOf(_).toLong).getOrElse(1L)
      Gds.harmonic(spark, graphArg(args, 0)._1, graphArg(args, 0)._2, iters, sm, sk)
    }
  }

  // ---- _testing: the stub-plugin analog (C11) ----
  // Replays the reference's test plugin: a procedure with
  // default-valued named args returning a typed one-row record of all
  // four property types (ref ExampleNeo4jPlugin.java:17-59, asserted
  // StubPluginHelper.java:124-134).

  private def installTesting(session: GraftSession): Unit = {
    val procs = session.procedures
    import procs.Param
    procs.registerWithParams("com.neo4j.docker.test.myplugin.defaultValues",
      Seq(Param("string", Some("a string")), Param("integer", Some(42L)),
        Param("float", Some(3.14d)), Param("boolean", Some(true))),
      "(string = 'a string' :: STRING, integer = 42 :: INTEGER, float = 3.14 :: FLOAT, boolean = true :: BOOLEAN) :: (string, integer, aFloat, aBoolean)",
      "Stub test procedure returning its (defaulted) arguments") { args =>
      procs.oneRow(
        "string" -> String.valueOf(args(0)),
        "integer" -> (args(1) match { case i: Int => i.toLong; case l: Long => l; case o => String.valueOf(o).toLong }),
        "aFloat" -> (args(2) match { case d: Double => d; case o => String.valueOf(o).toDouble }),
        "aBoolean" -> (args(3) match { case b: Boolean => b; case o => String.valueOf(o).toBoolean }))
    }
  }

  // ---- genai (vector ops over ARRAY<FLOAT>; neo4j-plugins.json:31-36) ----

  private def installGenai(session: GraftSession): Unit = {
    val procs = session.procedures
    val V = graft.functions.VectorFunctions
    procs.registerScalar("genai.vector.similarity.cosine",
      "(a :: LIST<FLOAT>, b :: LIST<FLOAT>) :: FLOAT")(a => V.cosine(a(0), a(1)))
    procs.registerScalar("genai.vector.similarity.euclidean",
      "(a :: LIST<FLOAT>, b :: LIST<FLOAT>) :: FLOAT")(a => V.l2Distance(a(0), a(1)))
    // genai.vector.encode — DECLARED STUB (same policy as
    // mm_decode_stub): the reference's encoder calls external
    // embedding providers, which this sandbox has no egress for. The
    // plumbing is real — a codegen'd column expression producing a
    // unit-scale array<double> of the requested dimension, batch-safe
    // inside any projection — and the payload is a deterministic
    // md5-derived pseudo-embedding in [-1, 1), so downstream
    // cosine/ANN operators exercise real shapes on fake values.
    procs.registerScalar("genai.vector.encode",
      "(resource :: STRING, dim :: INTEGER?) :: LIST<FLOAT>") { a =>
      import graft.functions.TextFunctions.md5Int
      val dim = 8 // fixed output width; the arity is column-static
      array((0 until dim).map { j =>
        ((md5Int(concat(a(0), lit(s"#$j"))) % 2000L) - 1000L).cast("double") / 1000.0
      }: _*)
    }
  }
}
