package graft.engine

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.functions.Dialect

/** Session facade — the Spark-native equivalent of the reference's MySQL
  * frontend (frontends/mysqlfe/mysql_handler.go:236-264 dispatch +
  * mysql_session.go:17-83 session variables).
  *
  * Statement surface:
  *   - SET @var = <literal>   — user variables, later substituted into SQL
  *   - SELECT @var / @@sysvar — resolved from the session/system maps
  *   - SHOW VARIABLES [LIKE]  — system-variable table
  *   - SHOW CREATE TABLE t    — MySQL-style DDL rendering
  *                              (frontends/mysqlfe/sql_writer.go:164-201)
  *   - BEGIN/COMMIT/ROLLBACK  — accepted no-ops (no transactions, as in the
  *                              reference, mysql_handler.go:205-213)
  *   - everything else        — @-substitution then spark.sql (full Catalyst)
  *
  * Everything heavy stays in Spark; this class only owns the dialect shims,
  * so it adds no per-row overhead at any scale.
  */
class GraftEngine(val spark: SparkSession) {

  Dialect.register(spark)
  SqlLibrary.ensure(spark)

  private val userVars = TrieMap.empty[String, String]
  private val prepared = TrieMap.empty[String, String]

  /** MySQL-ish system variables the reference answers (@@max_allowed_packet
    * et al., mysql_session.go). Values are engine-appropriate defaults. */
  val sysVars: Map[String, String] = Map(
    "max_allowed_packet" -> "67108864",
    "version" -> "8.0-graft-spark",
    "version_comment" -> "graft spark engine",
    "sql_mode" -> "ANSI",
    "autocommit" -> "1",
    "tx_isolation" -> "REPEATABLE-READ",
    "character_set_client" -> "utf8",
    "collation_connection" -> "utf8_general_ci")

  import GraftEngine._

  def sql(text0: String): DataFrame = {
    val text = normalizeBrackets(text0); text match {
    // the reference's statement-level distribution hint: `SELECT ...
    // WITH distributed=true, node_ct=2` (planner/sql_master.go:63-98
    // reads Stmt.With; backends/mongo/mgo_test.go:345,366 is the user
    // syntax). Spark is always distributed, so `distributed` is
    // satisfied by construction; `node_ct` maps to the result's
    // partition count — the same knob the reference's grid fabric
    // derives worker fan-out from.
    case SelectWithHints(body, hints) =>
      val kvs = hints.split(",").map(_.trim.split("\\s*=\\s*"))
        .collect { case Array(k, v) => k.toLowerCase -> v.toLowerCase }.toMap
      val df = sql(body)
      kvs.get("node_ct").map(_.toInt) match {
        case Some(n) if n > 0 =>
          // node_ct drives the SOURCE fan-out, not just the result's:
          // wire-connector scans under this statement split into n
          // key-range partitions (sql_master.go:78-97 derives the
          // worker fleet the same way). The hint rides INSIDE the
          // statement's plan as a per-relation read option, so it is
          // truly statement-scoped: it survives the returned
          // DataFrame's laziness and cannot bleed into scans planned
          // by other statements (no session state involved).
          import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          val hinted = df.queryExecution.analyzed.transform {
            case r: DataSourceV2Relation
                if r.table.isInstanceOf[graft.sources.WireScanTable] =>
              val m = new java.util.HashMap[String, String](r.options)
              m.put(graft.sources.WireFanout.OptionKey, n.toString)
              r.copy(options =
                new org.apache.spark.sql.util.CaseInsensitiveStringMap(m))
          }
          org.apache.spark.sql.graftbridge.PlanDataFrame.ofRows(spark, hinted)
            .repartition(n)
        case _ => df
      }

    case SetVar(name, value) =>
      // evaluate the RHS once so `SET @x = 1 + 1` stores "2"
      val v = spark.sql(s"SELECT ($value) AS v").collect()(0).get(0)
      userVars.put(name, SqlText.literal(v))
      spark.emptyDataFrame

    case TxnNoop(_) => spark.emptyDataFrame

    case ShowVars(like) =>
      import spark.implicits._
      val pat = Option(like).map(_.replace("%", ".*"))
      sysVars.toSeq.sortBy(_._1)
        .filter { case (k, _) => pat.forall(k.matches) }
        .toDF("Variable_name", "Value")

    case ShowCreate(t) =>
      import spark.implicits._
      Seq((t, showCreateTable(t))).toDF("Table", "Create Table")

    // MySQL's `EXPLAIN <table>` is an alias of DESCRIBE (any mysql client
    // may send either; the reference routes both through its SHOW/DESCRIBE
    // rewrite, mysql_handler.go:239). `EXPLAIN SELECT ...` stays native —
    // Spark's own EXPLAIN answers it with the Catalyst plan.
    case ExplainTbl(t) => spark.sql(s"DESCRIBE TABLE `$t`")

    // Prepared statements (reference: COM_STMT_PREPARE dispatch,
    // frontends/mysqlfe/mysql_handler.go:142): PREPARE name FROM '...?...';
    // EXECUTE name USING <expr>, ... — positional ? binding, quote-safe.
    case PrepareStmt(name, body) =>
      prepared.put(name, body.replace("''", "'"))
      spark.emptyDataFrame

    case ExecuteStmt(name, args) =>
      val body = prepared.getOrElse(name,
        throw new IllegalArgumentException(s"unknown prepared statement: $name"))
      val vals = Option(args).map(a => SqlText.splitTopLevel(substitute(a))).getOrElse(Seq.empty)
        .map(v => SqlText.literal(spark.sql(s"SELECT ($v) AS v").collect()(0).get(0)))
      sql(SqlText.bind(body, vals))

    case DeallocStmt(name) =>
      prepared.remove(name)
      spark.emptyDataFrame

    // Runtime source registration (reference: `CREATE source ... WITH
    // {json}`, README.md:64-76, dispatched mysql_handler.go:253-260).
    // Two shapes:
    //  - file source: {"path": ..., "type": "csv"|"json"}
    //  - WIRE source: {"protocol": "es"|"mongo"|"cassandra", ...conn props}
    //    — the reference's runtime-registration flow (models/serverctx.go:
    //    136-188): the backend registers, discovery runs over its own
    //    protocol, and its tables APPEAR (schemas discovered, not
    //    declared); SHOW TABLES thereafter lists live off the backend.
    case CreateSource(name, json) =>
      import scala.jdk.CollectionConverters._
      val node = graft.sources.EsDsl.M.readTree(json)
      Option(node.get("protocol")).map(_.asText().toLowerCase) match {
        case Some(p) if graft.sources.WireSources.Protocols(p) =>
          graft.sources.SourceRegistry.ensureCatalog(spark)
          val props = node.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
          val d = graft.sources.WireSourceDef(name, p, props)
          // a failed registration must not leave a phantom namespace
          // behind — and re-registering an EXISTING name with a broken
          // definition must not destroy the working source it replaces:
          // snapshot the prior defs BEFORE overwriting, and on failure
          // drop the new state and reinstate them (prior endpoints
          // re-discover from the prior, previously-working backend)
          val prevWire = graft.sources.WireSources.get(name)
          val prevSrc = graft.sources.SourceRegistry.get(name)
          try {
            graft.sources.WireSources.register(d) // validates every prop
            // namespace anchor (wire sources have no data directory)
            graft.sources.SourceRegistry.register(graft.sources.SourceDef(
              name, new java.io.File(sys.props("java.io.tmpdir"),
                s"graft-wire/$name").getPath, "json", p))
            graft.sources.WireSources.discoverAll(d)
          } catch { case e: Throwable =>
            graft.sources.WireSources.drop(name)
            graft.sources.SourceRegistry.drop(name)
            // the prior source may have been a plain FILE source
            // (prevWire=None) — its registry entry must come back either way
            prevSrc.foreach(graft.sources.SourceRegistry.register)
            prevWire.foreach { od =>
              graft.sources.WireSources.register(od)
              try graft.sources.WireSources.discoverAll(od)
              catch { case _: Throwable => () } // lazy resolution can recover
            }
            throw e
          }
          spark.emptyDataFrame
        case Some(other) =>
          throw new IllegalArgumentException(
            s"CREATE SOURCE $name: unknown protocol \"$other\" (supported: " +
              graft.sources.WireSources.Protocols.toSeq.sorted.mkString(", ") + ")")
        case None =>
          val path = Option(node.get("path")).map(_.asText())
            .getOrElse(throw new IllegalArgumentException(
              s"CREATE SOURCE $name: missing \"path\""))
          val fmt = Option(node.get("type")).map(_.asText().toLowerCase).getOrElse("csv")
          val pd = Option(node.get("pushdown")).map(_.asText().toLowerCase).getOrElse("full")
          graft.sources.SourceRegistry.ensureCatalog(spark)
          graft.sources.SourceRegistry.register(
            graft.sources.SourceDef(name, path, fmt, pd))
          spark.emptyDataFrame
      }

    case DropSource(name) =>
      graft.sources.WireSources.drop(name)
      graft.sources.SourceRegistry.drop(name)
      spark.emptyDataFrame

    case ShowSources() =>
      import spark.implicits._
      graft.sources.SourceRegistry.all
        .map(s => (s.name, s.path, s.format))
        .toDF("Source", "Location", "Format")

    // MySQL clients enumerate databases on connect; the reference's
    // proxy answers its registered source schemas. One `Database`
    // column, MySQL's exact result shape.
    case ShowDatabases() =>
      import spark.implicits._
      ("default" +: graft.sources.SourceRegistry.all.map(_.name))
        .distinct.sorted.toDF("Database")

    // UPDATE on a connector table: read-modify-write rewrite (reference:
    // datastore read-modify-write UPDATE, backends/datastore/
    // datastore_test.go:398-486). The updated frame is staged into a
    // temp table through the connector's own append path, then swapped in
    // — never an in-place mutation a concurrent reader could half-see.
    case UpdateStmt(tbl, sets, cond) if tbl.startsWith("graft.") =>
      updateRewrite(tbl, sets, substitute(cond))

    // UPSERT on a connector table with declared keys: rows whose key
    // matches an existing row replace it, the rest append — the
    // reference's per-backend `Put(key, vals)` upsert semantics
    // (backends/cassandra/sql_to_cql.go:246-361, cass_test.go:484-599).
    case UpsertStmt(tbl, cols, values) if tbl.startsWith("graft.") =>
      upsertRewrite(tbl, Option(cols), substitute(values))

    // Table maintenance: bin-pack a table's accumulated small part files
    // (every INSERT commit adds files) into `n` files. Delta-style
    // OPTIMIZE; the reference has no analogue — its backends own their
    // storage — but a file-backed source needs it operationally.
    case OptimizeStmt(tbl, n) if tbl.startsWith("graft.") =>
      import spark.implicits._
      val parts = tbl.replace("`", "").split('.')
      require(parts.length == 3, s"OPTIMIZE expects graft.<source>.<table>, got $tbl")
      val src = graft.sources.SourceRegistry.get(parts(1))
        .getOrElse(throw new IllegalArgumentException(s"unknown source ${parts(1)}"))
      val table = graft.sources.FileTable.open(src, parts(2))
        .getOrElse(throw new IllegalArgumentException(s"unknown table $tbl"))
      val before = table.dataFiles().size
      val after = table.compact(spark, Option(n).map(_.toInt).getOrElse(1))
      Seq((tbl, before.toLong, after.toLong))
        .toDF("table", "files_before", "files_after")

    case other => spark.sql(substitute(other))
  } }

  /** qlbridge-style bracket-quoted identifiers — the reference dialect
    * accepts `SET name = "x", [deleted] = true` (MSSQL-ish identity
    * quoting; `backends/cassandra/cass_test.go:593` et al.) — rewritten
    * to backtick quoting for every downstream parser. Brackets inside
    * string literals are untouched, and a bracket directly following an
    * identifier, `]`, or `)` is array/map INDEXING (`roles[1]`), kept
    * verbatim. */
  private def normalizeBrackets(text: String): String =
    if (!text.contains('[')) text
    else SqlText.mapCode(text) { code =>
      BracketIdent.replaceAllIn(code, m => {
        val prev = if (m.start == 0) ' ' else code.charAt(m.start - 1)
        val indexing = Character.isLetterOrDigit(prev) || prev == '_' ||
          prev == ']' || prev == ')'
        if (indexing) m.matched else s"`${m.group(1)}`"
      })
    }

  private def upsertRewrite(tbl: String, cols: Option[String], values: String): DataFrame = {
    val parts = tbl.replace("`", "").split('.')
    require(parts.length == 3, s"UPSERT expects graft.<source>.<table>, got $tbl")
    val src = graft.sources.SourceRegistry.get(parts(1))
      .getOrElse(throw new IllegalArgumentException(s"unknown source ${parts(1)}"))
    val table = graft.sources.FileTable.open(src, parts(2))
      .getOrElse(throw new IllegalArgumentException(s"unknown table $tbl"))
    require(table.keys.nonEmpty,
      s"UPSERT needs declared key columns on $tbl (TBLPROPERTIES 'keys')")
    val colNames = cols.map(_.split(',').map(_.trim.replace("`", "")).toSeq)
      .getOrElse(table.schema0.fieldNames.toSeq)
    require(table.keys.forall(k => colNames.exists(_.equalsIgnoreCase(k))),
      s"UPSERT column list must include the key columns ${table.keys.mkString(", ")}")
    val listed = spark.sql(
      s"SELECT * FROM (VALUES $values) AS t(${colNames.mkString(", ")})")
    // pad unlisted columns with typed nulls BEFORE any delete happens, so
    // a malformed upsert rejects up front instead of after removing rows
    val incoming = spark.sql(s"SELECT * FROM $tbl LIMIT 0").columns
      .foldLeft(listed) { (df, c) =>
        if (colNames.exists(_.equalsIgnoreCase(c))) df
        else df.withColumn(c,
          org.apache.spark.sql.functions.lit(null)
            .cast(table.schema0(c).dataType))
      }
    // delete existing rows matching any incoming key (key list is literal
    // VALUES text — driver-side by construction, like the statement itself)
    val keyRows = incoming.select(table.keys.map(
      org.apache.spark.sql.functions.col): _*).collect()
    if (keyRows.nonEmpty) {
      val inOk = table.keys.size == 1 &&
        table.acceptsFilter(org.apache.spark.sql.sources.In(
          table.keys.head, keyRows.map(_.get(0)).toArray))
      if (inOk) {
        // single key on a profile that accepts IN (full, Cassandra-style
        // keys): one IN-list delete (file-pruned inside deleteWhere)
        val in = keyRows.map(r => SqlText.literal(r.get(0))).distinct.mkString(", ")
        spark.sql(s"DELETE FROM $tbl WHERE `${table.keys.head}` IN ($in)")
      } else {
        // composite keys, or a profile without IN (BigTable-style prefix
        // ranges): ONE broadcast anti-join rewrite over the part files
        // whose key range can hold an incoming key — replaces the
        // reference's row-at-a-time Put with a single batched job
        import org.apache.spark.sql.functions.{broadcast, col}
        import graft.sources.PartFileRewrite
        val firstKeyVals = keyRows.map(_.get(0)).distinct.filter(_ != null)
        val (touched, _) = PartFileRewrite.touchedFiles(table,
          Seq(org.apache.spark.sql.sources.In(table.keys.head, firstKeyVals.toArray)))
        if (touched.nonEmpty) {
          val rows = PartFileRewrite.readFiles(spark, table, touched)
          val keyDf = incoming.select(table.keys.map(k =>
            col(k).as("_gk_" + k)): _*).distinct()
          val joinCond = table.keys.map(k =>
            rows.col(k) === keyDf.col("_gk_" + k)).reduce(_ && _)
          val survivors = rows.join(broadcast(keyDf), joinCond, "left_anti")
          PartFileRewrite.replaceFiles(table, survivors, touched, removeEmptied = true)
        }
      }
    }
    incoming.writeTo(tbl).append()
    import spark.implicits._
    Seq(keyRows.length.toLong).toDF("affected_rows")
  }

  /** UPDATE as a surgical part-file rewrite (reference: per-key
    * read-modify-write, backends/datastore/sql_to_datastore.go:218-360).
    * Two pruning stages keep the write O(affected files), never O(table):
    *   1. KeyRanges sidecar pruning — files whose recorded key range
    *      cannot hold a matching row are never opened;
    *   2. a match pre-pass over the survivors — files that contain no
    *      actually-matching row are read once but never rewritten, so
    *      their part files stay byte-identical.
    * A one-row UPDATE on a 100 TB keyed table therefore rewrites one
    * file. Per-file swaps are atomic (tmp + rename, the deleteWhere
    * protocol); the statement is not cross-file transactional. */
  private def updateRewrite(tbl: String, sets: String, cond: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, when}
    import graft.sources.PartFileRewrite
    val parts = tbl.replace("`", "").split('.')
    require(parts.length == 3, s"UPDATE expects graft.<source>.<table>, got $tbl")
    graft.sources.WireEndpoints.get(parts(1), parts(2)) match {
      // Mongo-wire tables: UPDATE ships as ONE OP_MSG update command —
      // the WHERE compiles to a filter document, the SET to {$set: ...}
      // (literal RHS only; the wire has no row-referencing expressions).
      case Some(ep: graft.sources.MongoEndpoint) =>
        return mongoWireUpdate(ep, sets, cond, tbl)
      // BQ-wire tables: UPDATE renders to ONE standard-SQL DML job
      // (the service's own surface; WHERE must render exactly or abort).
      case Some(ep: graft.sources.BqEndpoint) =>
        return bqWireUpdate(ep, sets, cond, tbl)
      // Datastore-wire tables: read-modify-write — fetch the matching
      // entities, merge the SETs, re-Put as upsert mutations (the
      // reference's exact UPDATE recipe, sql_to_datastore.go:258-278
      // getEntity-then-Put).
      case Some(ep: graft.sources.DsEndpoint) =>
        return dsWireUpdate(ep, sets, cond, tbl)
      // BigTable: the reference's mutator supports INSERT only
      // (sql_to_bt.go:268-273 answers "not yet supported" for any other
      // statement); mirror the refusal rather than invent semantics.
      case Some(_: graft.sources.BtEndpoint) =>
        throw new IllegalArgumentException(
          s"UPDATE $tbl: not supported on a BigTable backend " +
            "(write the full row: INSERT is an upsert on the row key)")
      case _ => // every other kind takes the file path below
    }
    val src = graft.sources.SourceRegistry.get(parts(1))
      .getOrElse(throw new IllegalArgumentException(s"unknown source ${parts(1)}"))
    val table = graft.sources.FileTable.open(src, parts(2))
      .getOrElse(throw new IllegalArgumentException(s"unknown table $tbl"))
    // SQL UPDATE semantics: the WHERE condition and every RHS evaluate
    // against the ORIGINAL row, so all assignments go into ONE select —
    // sequential withColumn would let later assignments (and the
    // condition) see already-updated values.
    val assigns = SqlText.splitTopLevel(sets).map { assign =>
      val Array(c, v) = assign.split("=", 2).map(_.trim)
      c.replace("`", "") -> v
    }.toMap
    val unknown = assigns.keys.filterNot(c =>
      table.schema0.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(unknown.isEmpty, s"UPDATE $tbl: unknown columns ${unknown.mkString(", ")}")
    // a bucketed file's bucket id is a function of its rows' keys: an
    // in-place key rewrite would strand rows in the wrong bucket (KV
    // stores model key changes as delete+insert; so do we)
    if (table.buckets > 0)
      require(!assigns.keys.exists(c => table.keys.exists(_.equalsIgnoreCase(c))),
        s"UPDATE $tbl: cannot update bucket key columns; DELETE + INSERT instead")
    val filters = PartFileRewrite.condFilters(spark, tbl, cond)
    val (touched, _) = PartFileRewrite.touchedFiles(table, filters)
    var affected = 0L
    if (touched.nonEmpty) {
      // match pre-pass: which touched files hold a matching row, and how
      // many (the affected count — pruning is conservative, so every
      // matching row lives in a touched file)
      val perFile = PartFileRewrite.readFiles(spark, table, touched)
        .filter(expr(cond))
        .groupBy(col(PartFileRewrite.SrcCol)).count()
        .collect() // metadata-sized: one row per file with matches
      affected = perFile.map(_.getLong(1)).sum
      val hit = perFile.map(_.getString(0)).toSet
      val hitFiles = touched.filter(f => hit(f.getPath))
      if (hitFiles.nonEmpty) {
        val rows = PartFileRewrite.readFiles(spark, table, hitFiles)
        val upd = rows.select(table.schema0.fieldNames.toSeq.map { c =>
          assigns.collectFirst { case (ac, v) if ac.equalsIgnoreCase(c) =>
            when(expr(cond), expr(substitute(v))).otherwise(col(c)).as(c)
          }.getOrElse(col(c))
        } :+ col(PartFileRewrite.SrcCol): _*)
        PartFileRewrite.replaceFiles(table, upd, hitFiles, removeEmptied = false)
      }
    }
    import spark.implicits._
    Seq(affected).toDF("affected_rows")
  }

  /** UPDATE over the Mongo wire: WHERE → filter document (via the same
    * Catalyst filter extraction the file rewrite uses), SET → `$set`
    * with constant-folded literal values, shipped as one OP_MSG update
    * with multi=true (reference: the Mongo backend's whole-row Put is
    * the same server-side mutation contract, sql_to_mgo.go). */
  private def mongoWireUpdate(ep: graft.sources.MongoEndpoint,
      sets: String, cond: String, tbl: String): DataFrame = {
    import graft.protocol.Bson.BDoc
    import graft.sources.{MongoClientLite, MongoDsl, PartFileRewrite}
    // EXACT extraction: a conjunct without a filter form must ABORT the
    // statement — the pruning-grade condFilters drops such conjuncts,
    // which here would silently widen the mutated row set
    val filters = PartFileRewrite.condFiltersExact(spark, tbl, cond)
      .getOrElse(throw new IllegalArgumentException(
        s"UPDATE $tbl: WHERE is outside the wire filter surface: $cond"))
    val compiled = filters.map(MongoDsl.compile)
    require(!compiled.exists(_.isEmpty),
      s"UPDATE $tbl: WHERE is outside the wire filter surface: $cond")
    val q = MongoDsl.compileAll(compiled.flatten)
    val set = BDoc(SqlText.splitTopLevel(sets).map { assign =>
      val Array(c, v) = assign.split("=", 2).map(_.trim)
      val name = c.replace("`", "")
      val i = ep.schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0, s"UPDATE $tbl: unknown column $name")
      // constant-fold the RHS (literal expressions only: the wire's $set
      // carries values, not row-referencing expressions), CAST to the
      // column type — a bare 1.5 folds to DecimalType/BigDecimal, which
      // has no BSON form; the cast lands it as the column's double
      val value = spark.sql(
        s"SELECT CAST((${substitute(v)}) AS ${ep.schema.fields(i).dataType.sql})")
        .collect()(0).get(0)
      ep.schema.fields(i).name -> value
    })
    val client = new MongoClientLite(ep.spec.host, ep.spec.port, ep.spec.cfg)
    val n = try client.update(ep.spec.db, ep.spec.collection, q, set, multi = true)
      finally client.close()
    import spark.implicits._
    Seq(n.toLong).toDF("affected_rows")
  }

  /** Parse `SET a = v, b = v` into (column, constant-folded typed value)
    * pairs against a wire schema — shared by the wire-UPDATE paths.
    * RHS are literal expressions only (the wires carry values, not
    * row-referencing expressions); each is CAST to its column type. */
  private def foldSets(sets: String, schema: StructType, tbl: String): Seq[(String, Any)] =
    SqlText.splitTopLevel(sets).map { assign =>
      val Array(c, v) = assign.split("=", 2).map(_.trim)
      val name = c.replace("`", "")
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0, s"UPDATE $tbl: unknown column $name")
      val value = spark.sql(
        s"SELECT CAST((${substitute(v)}) AS ${schema.fields(i).dataType.sql})")
        .collect()(0).get(0)
      schema.fields(i).name -> value
    }

  /** UPDATE over the BQ wire: WHERE and SET render into ONE
    * standard-SQL DML statement shipped as a job. Conjuncts without a
    * rendered form ABORT (never a widened mutation). */
  private def bqWireUpdate(ep: graft.sources.BqEndpoint,
      sets: String, cond: String, tbl: String): DataFrame = {
    import graft.sources.{BqSql, HttpRestClient, PartFileRewrite}
    val filters = PartFileRewrite.condFiltersExact(spark, tbl, cond)
      .getOrElse(throw new IllegalArgumentException(
        s"UPDATE $tbl: WHERE is outside the wire filter surface: $cond"))
    val preds = filters.map(BqSql.render)
    require(!preds.exists(_.isEmpty),
      s"UPDATE $tbl: WHERE is outside the wire filter surface: $cond")
    val setSql = foldSets(sets, ep.schema, tbl).map { case (c, v) =>
      val lit = if (v == null) Some("NULL") else BqSql.renderLit(v)
      s"$c = ${lit.getOrElse(throw new IllegalArgumentException(
        s"UPDATE $tbl: value $v has no SQL literal form"))}"
    }.mkString(", ")
    val whereSql = if (preds.isEmpty) "TRUE" else preds.flatten.mkString(" AND ")
    val sql = s"UPDATE ${ep.spec.table} SET $setSql WHERE $whereSql"
    val client = new HttpRestClient(ep.spec.baseUrl, ep.spec.cfg)
    val resp = graft.sources.EsDsl.M.readTree(
      client.postJson(s"/bq/${ep.spec.table}/query",
        graft.sources.EsDsl.M.createObjectNode()
          .put("query", sql).toString))
    import spark.implicits._
    Seq(resp.path("numDmlAffectedRows").asText("0").toLong).toDF("affected_rows")
  }

  /** UPDATE over the Datastore wire: read-modify-write. The WHERE must
    * compile exactly to property filters (abort otherwise); matching
    * entities are fetched over `:runQuery`, merged with the SET values,
    * and re-Put as ONE `:commit` of upserts — the reference's
    * getEntity-then-Put recipe. Driver-bounded by the WHERE-matched
    * set, the same set any UPDATE must materialize to rewrite. */
  private def dsWireUpdate(ep: graft.sources.DsEndpoint,
      sets: String, cond: String, tbl: String): DataFrame = {
    import graft.sources.{DsQuery, HttpRestClient, PartFileRewrite}
    val filters = PartFileRewrite.condFiltersExact(spark, tbl, cond)
      .getOrElse(throw new IllegalArgumentException(
        s"UPDATE $tbl: WHERE is outside the wire filter surface: $cond"))
    val (accepted, declined) = DsQuery.split(filters)
    require(declined.isEmpty,
      s"UPDATE $tbl: WHERE is outside the wire filter surface: $cond")
    val keyCol = ep.keyCol.getOrElse(throw new IllegalArgumentException(
      s"UPDATE $tbl: needs a declared key property"))
    val assigns = foldSets(sets, ep.schema, tbl)
    require(!assigns.exists(_._1.equalsIgnoreCase(keyCol)),
      s"UPDATE $tbl: cannot update the key property $keyCol")
    // fetch matching entities THROUGH the wire (the same filters the
    // read path ships; matched set is exactly what must be rewritten)
    val matched = spark.table(tbl)
      .where(if (cond.trim.isEmpty) org.apache.spark.sql.functions.lit(true)
        else org.apache.spark.sql.functions.expr(substitute(cond)))
      .collect()
    if (matched.nonEmpty) {
      val M = graft.sources.EsDsl.M
      val body = M.createObjectNode()
      val muts = body.putArray("mutations")
      matched.foreach { row =>
        val props = muts.addObject().putObject("upsert").putObject("properties")
        ep.schema.fields.zipWithIndex.foreach { case (f, i) =>
          val v = assigns.collectFirst {
            case (c, nv) if c.equalsIgnoreCase(f.name) => nv
          }.getOrElse(if (row.isNullAt(i)) null else row.get(i))
          props.set[com.fasterxml.jackson.databind.JsonNode](f.name,
            DsQuery.valueNode(v).getOrElse(throw new IllegalArgumentException(
              s"UPDATE $tbl: value $v has no datastore form")))
        }
      }
      val client = new HttpRestClient(ep.spec.baseUrl, ep.spec.cfg)
      client.postJson(s"/ds/${ep.spec.kind}:commit", body.toString)
    }
    import spark.implicits._
    Seq(matched.length.toLong).toDF("affected_rows")
  }

  /** Replace @@sysvars and @uservars with their literal values — but never
    * inside quoted strings or identifiers, so `'a@b.com'` survives
    * (mysql frontends tokenize before variable expansion; a raw regex over
    * the whole text would corrupt quoted emails). */
  def substitute(text: String): String = SqlText.mapCode(text) { code =>
    val s1 = SysVarRef.replaceAllIn(code, m =>
      scala.util.matching.Regex.quoteReplacement(
        sysVars.get(m.group(1).toLowerCase)
          .map(v => s"'$v'").getOrElse("NULL")))
    UserVarRef.replaceAllIn(s1, m =>
      scala.util.matching.Regex.quoteReplacement(
        userVars.getOrElse(m.group(1), "NULL")))
  }

  /** MySQL-style DDL rendering of a catalog table
    * (reference: frontends/mysqlfe/sql_writer.go:164-201 + type switch
    * sql_writer.go:36-78). */
  def showCreateTable(name: String): String = {
    val schema = spark.table(name).schema
    val cols = schema.fields.map { f =>
      val t = mysqlType(f.dataType)
      val nn = if (f.nullable) "" else " NOT NULL"
      s"  `${f.name}` $t$nn"
    }
    s"CREATE TABLE `$name` (\n${cols.mkString(",\n")}\n) ENGINE=InnoDB DEFAULT CHARSET=utf8;"
  }

  /** value.ValueType → MySQL type names (sql_writer.go:36-78). */
  def mysqlType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType => "int(11)"
    case LongType => "bigint"
    case FloatType | DoubleType => "double"
    case _: DecimalType => "double"
    case BooleanType => "tinyint(1)"
    case TimestampType | TimestampNTZType => "datetime"
    case DateType => "date"
    case BinaryType => "blob"
    case StringType => "varchar(255)"
    case _: ArrayType | _: MapType | _: StructType => "text"
    case _ => "text"
  }
}

object GraftEngine {

  private[engine] val SetVar = """(?is)\s*SET\s+@(\w+)\s*(?::?=)\s*(.+?)\s*;?\s*""".r
  /** Trailing `WITH k=v, ...` hint list on a SELECT (the reference's
    * per-statement properties; values are bare words there). Anchored to
    * SELECT so CTE-leading WITH is untouched. */
  private[engine] val SelectWithHints =
    """(?is)\s*(SELECT\b.+\S)\s+WITH\s+((?:\w+\s*=\s*\w+\s*,\s*)*\w+\s*=\s*\w+)\s*;?\s*""".r
  private[engine] val TxnNoop = """(?is)\s*(BEGIN|COMMIT|ROLLBACK)\s*;?\s*""".r
  private[engine] val ShowVars = """(?is)\s*SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES(?:\s+LIKE\s+'(.*)')?\s*;?\s*""".r
  private[engine] val ShowCreate = """(?is)\s*SHOW\s+CREATE\s+TABLE\s+`?(\w+)`?\s*;?\s*""".r
  // table-name form only — EXPLAIN followed by a statement keyword
  // (SELECT/WITH/...) is Spark-native and must NOT match
  private[engine] val ExplainTbl =
    """(?is)\s*EXPLAIN\s+`?(?!SELECT\b|WITH\b|VALUES\b|TABLE\b|EXTENDED\b|FORMATTED\b|CODEGEN\b|COST\b)(\w+)`?\s*;?\s*""".r
  private[engine] val PrepareStmt = """(?is)\s*PREPARE\s+(\w+)\s+FROM\s+'((?:[^']|'')*)'\s*;?\s*""".r
  private[engine] val ExecuteStmt = """(?is)\s*EXECUTE\s+(\w+)(?:\s+USING\s+(.+?))?\s*;?\s*""".r
  private[engine] val DeallocStmt = """(?is)\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*""".r
  private[engine] val CreateSource = """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?SOURCE\s+(\w+)\s+WITH\s+(\{.*\})\s*;?\s*""".r
  private[engine] val DropSource = """(?is)\s*DROP\s+SOURCE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*""".r
  private[engine] val ShowSources = """(?is)\s*SHOW\s+SOURCES\s*;?\s*""".r
  private[engine] val ShowDatabases = """(?is)\s*SHOW\s+(?:DATABASES|SCHEMAS)\s*;?\s*""".r
  private[engine] val OptimizeStmt =
    """(?is)\s*OPTIMIZE\s+TABLE\s+([\w.`]+)(?:\s+INTO\s+(\d+)\s+FILES)?\s*;?\s*""".r
  private[engine] val UpdateStmt = """(?is)\s*UPDATE\s+([\w.`]+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private[engine] val BracketIdent = """\[([A-Za-z_][A-Za-z0-9_]*)\]""".r
  private val SysVarRef = "@@(?:session\\.|global\\.)?(\\w+)".r
  private val UserVarRef = "@(\\w+)".r
  private[engine] val UpsertStmt = """(?is)\s*UPSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^)]*)\))?\s*VALUES\s+(.+?)\s*;?\s*""".r

  // one engine per SparkSession, weakly held: session vars / prepared
  // statements live exactly as long as their session (a Thrift connection
  // forks a session per client; its engine — and vars — die with it)
  private val perSession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, GraftEngine]())

  def forSession(s: org.apache.spark.sql.SparkSession): GraftEngine =
    perSession.synchronized {
      var e = perSession.get(s)
      if (e == null) { e = new GraftEngine(s); perSession.put(s, e) }
      e
    }

  /** True iff the statement belongs to the graft dialect (the shims the
    * default Spark parser would reject): matched by a dialect regex, or
    * referencing a session/system variable outside string literals. Used
    * by [[GraftParser]] to decide interception. */
  def isDialect(text: String): Boolean = text match {
    case SetVar(_, _) | TxnNoop(_) | ShowVars(_) | ShowCreate(_) |
         PrepareStmt(_, _) | ExecuteStmt(_, _) | DeallocStmt(_) |
         CreateSource(_, _) | DropSource(_) | ShowSources() |
         ShowDatabases() | ExplainTbl(_) => true
    case OptimizeStmt(t, _) => t.replace("`", "").startsWith("graft.")
    case UpdateStmt(t, _, _) => t.replace("`", "").startsWith("graft.")
    case UpsertStmt(t, _, _) => t.replace("`", "").startsWith("graft.")
    case _ => SqlText.hasVarRef(text)
  }
}
