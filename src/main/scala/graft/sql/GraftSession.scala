package graft.sql

import graft.functions.GraftFunctions
import graft.sources.{MultisetStore, StoredParquet}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{CurrentNamespace, RelationTimeTravel,
  UnresolvedAttribute, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation,
  UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, CreateTempView, CreateView,
  DeleteAction, DeleteFromTable, DropNamespace, DropTable, DropView, InsertAction,
  InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, ShowFunctions, ShowTables,
  SubqueryAlias, UnresolvedWith, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.execution.command.{ExplainCommand, ShowNamespacesCommand}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}

import scala.util.matching.Regex

/** The reference's SQL front door re-expressed over Spark SQL: a thin
  * statement dispatcher + dialect pre-rewriter, NOT a parser fork
  * (SURVEY.md §4.2 — "string pre-rewriter" verdict). Statement surface
  * mirrors the reference's runtime/src/connection.rs:35-136:
  *
  *   SHOW FUNCTIONS / DATABASES / TABLES, USE db, CREATE/DROP DATABASE,
  *   CREATE [MULTISET] TABLE (incresql types), CREATE/DROP VIEW, DROP
  *   TABLE, INSERT, DELETE [LIMIT n], UPDATE, MERGE, EXPLAIN [FORMATTED],
  *   COMPACT/VACUUM TABLE, and queries in the MySQL-ish dialect:
  *     - `FROM DIRECTORY "path" [WITH(delimiter="c")]` recursive CSV
  *       scan emitting one `data` JSON-array column (file_scan.rs:15-52)
  *     - `LIMIT offset, n` (select.rs:232-254)
  *     - `->` / `->>` json operators (expression.rs:176-196)
  *     - backtick identifiers and double-quoted strings (Spark-native).
  *
  * Each statement is parsed once. Standard statements go through Spark's
  * own parser after the dialect rewrite, and `sql` dispatches on the
  * parsed plan: DML conditions and assignments are Spark's parsed
  * expressions, never re-parsed substrings. Text matching is kept only
  * for the forms Spark cannot parse: CREATE [MULTISET] TABLE (incresql
  * types, DECIMAL caps), CREATE VIEW (its raw dialect body is what is
  * stored and listed), COMPACT/VACUUM TABLE, and a trailing `LIMIT n` on
  * DELETE, which is stripped before Spark parses the rest.
  *
  * Table names resolve on Spark's parsed plan, not in the text: one
  * resolver maps each name of a scoped view, a multiset table or a
  * system table to its logical plan and leaves every other name to
  * Spark. No statement registers a Spark temp view.
  */
object GraftSession {
  // encoder-visible row shapes for the system catalog tables (must live
  // outside the class: inner case classes can't be encoded)
  private[sql] case class SysDbRow(name: String)
  private[sql] case class SysTableRow(
      database_name: String, name: String, `type`: String,
      sql: Option[String], sql_context: Option[String],
      table_id: Option[Long], columns: Option[String], system: Boolean)

  /** `<warehouse>/<name>`: the graft catalogs live beside the session's
    * warehouse, so sessions sharing a warehouse share them — the Spark
    * analog of the reference's storage-directory-scoped catalog. */
  private def besideWarehouse(spark: SparkSession, name: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path =
      if (wh.contains(":")) java.nio.file.Paths.get(new java.net.URI(wh)).toString
      else wh
    path.stripSuffix("/") + "/" + name
  }

  /** Default durable-view location: `_graft_views` beside the warehouse. */
  def defaultViewCatalog(spark: SparkSession): String = besideWarehouse(spark, "_graft_views")

  private def listDir(dir: java.nio.file.Path): Vector[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(dir)) Vector.empty
    else {
      val s = java.nio.file.Files.list(dir)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala.toVector
      finally s.close()
    }

  /** Index just past the quoted span that opens at `i` — a '…' or "…"
    * string literal (backslash escapes inside) or a `…` identifier (no
    * escapes) — or `i` itself when none opens there. An unterminated span
    * runs to the end of `s`. The one quote rule of every text scanner
    * here, so a `;`, `,`, `->` or keyword inside a literal or a backtick
    * identifier is never seen as syntax. */
  private def skipQuoted(s: String, i: Int): Int = {
    val q = s.charAt(i)
    if (q != '\'' && q != '"' && q != '`') return i
    var j = i + 1
    while (j < s.length && s.charAt(j) != q)
      j += (if (q != '`' && s.charAt(j) == '\\') 2 else 1)
    math.min(j + 1, s.length)
  }

  // --- QUALIFY clause (dialect extension; DuckDB/Snowflake surface) -------
  // Spark has no QUALIFY; the rewrite realizes its semantics exactly as
  // the engines that do define it: the predicate is evaluated AFTER
  // GROUP BY/HAVING and window computation, BEFORE ORDER BY/LIMIT. The
  // predicate is injected into the select list (where window functions
  // and select aliases are both legal — Spark's lateral column alias
  // resolution covers the alias case) and filtered one level out:
  //
  //   SELECT <sel> FROM ... QUALIFY <pred> [ORDER BY ...] →
  //   SELECT * EXCEPT (__qualify) FROM
  //     (SELECT <sel>, (<pred>) AS __qualify FROM ...) __qualified
  //   WHERE __qualify [ORDER BY ...]
  //
  // Scope (documented, pinned in GraftSessionSpec): QUALIFY at the top
  // level of each set-operation arm; a QUALIFY nested inside a
  // parenthesized subquery is left for that subquery's own rewrite pass
  // (GraftSession.sql rewrites recursively only via view definitions).

  /** Index of the first of `words` appearing outside quotes at paren
    * depth 0 as a whole word, scanning from `from`; -1 if none — so a
    * column named `` `qualify` `` can never trigger the rewrite. */
  private def findTopLevelWord(s: String, words: Seq[String], from: Int): Int = {
    var i = from
    var depth = 0
    val lower = s.toLowerCase
    while (i < s.length) {
      val c = s.charAt(i)
      val end = skipQuoted(s, i)
      if (end > i) i = end - 1
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && (i == 0 || !isWordChar(s.charAt(i - 1)))) {
        val hit = words.exists(w => lower.startsWith(w, i) &&
          (i + w.length == s.length || !isWordChar(s.charAt(i + w.length))))
        if (hit) return i
      }
      i += 1
    }
    -1
  }

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  // clauses that can follow a QUALIFY predicate at top level
  private val qualifyStops =
    Seq("order", "limit", "offset", "union", "intersect", "except", ";")

  /** Rewrite every top-level `QUALIFY` clause (left-to-right; set-operation
    * arms each get their own pass because the rewritten prefix contains no
    * QUALIFY token). Returns `q` unchanged when the clause is absent. */
  def rewriteQualify(q: String): String = {
    val qi = findTopLevelWord(q, Seq("qualify"), 0)
    if (qi < 0) return q
    val predStart = qi + "qualify".length
    val stop = findTopLevelWord(q, qualifyStops, predStart)
    val predEnd = if (stop < 0) q.length else stop
    val pred = q.substring(predStart, predEnd).trim
    require(pred.nonEmpty, s"empty QUALIFY predicate in: $q")
    val tail = q.substring(predEnd)
    // the owning SELECT is the NEAREST top-level one before the QUALIFY
    // (not the first: in `A UNION SELECT ... QUALIFY p`, arm 2 owns it);
    // its FROM is the insertion point for the predicate column
    var sel = -1
    var scan = findTopLevelWord(q, Seq("select"), 0)
    while (scan >= 0 && scan < qi) {
      sel = scan
      scan = findTopLevelWord(q, Seq("select"), scan + 1)
    }
    require(sel >= 0, s"QUALIFY without owning SELECT in: $q")
    val fromIdx = findTopLevelWord(q, Seq("from"), sel)
    require(fromIdx >= 0 && fromIdx < qi, s"QUALIFY without FROM in: $q")
    val inner = q.substring(sel, fromIdx) +
      s", ($pred) AS __qualify " + q.substring(fromIdx, qi)
    val rewritten = q.substring(0, sel) +
      s"SELECT * EXCEPT (__qualify) FROM ($inner) __qualified WHERE __qualify" +
      (if (tail.nonEmpty) " " + tail.trim else "")
    rewriteQualify(rewritten) // next arm, if any
  }
}

final class GraftSession(val spark: SparkSession, viewCatalogDir: String = null,
    multisetCatalogDir: String = null) {
  import GraftSession._

  GraftFunctions.register(spark)

  // bootstrap databases, as the reference creates on first boot
  // (catalog/src/bootstrap.rs:22-24) — makes `USE incresql` etc. valid
  Seq("incresql", "information_schema").foreach(db =>
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))

  private def currentDb: String = spark.catalog.currentDatabase
  private def parser = spark.sessionState.sqlParser

  // --- persistent view catalog -------------------------------------------
  // The reference stores views as SQL text (+ sql_context) in catalog
  // tables, durable across connections, and re-inlines the text at
  // resolve time (catalog/src/lib.rs:176+, resolve_tables.rs:35-58).
  // Same model here: CREATE VIEW persists the raw dialect SQL as
  // `<seq>_<db>.<name>.sql` (first line: the sql_context header) under
  // the view-catalog dir (default: `<warehouse>/_graft_views`); a new
  // GraftSession replays the files in creation order — so chained views
  // resolve — analyzing each body once under its stored context. A view
  // whose base tables are absent in the new session is skipped with a
  // warning (the reference would defer that error to query time; pinned
  // in ViewCatalogSpec).
  //
  // Views are DATABASE-SCOPED, as in the reference (its catalog keys
  // views by (database, name) and unqualified references resolve in the
  // current database only): `CREATE VIEW db.name` / bare `name` owns the
  // view to `db` / the current database; a bare reference resolves only
  // when the resolving database matches; a qualified `db.name` reference
  // resolves from anywhere. Each reference inlines the body (see
  // `resolve`), keeping the reference default alias (`name`) unless the
  // query supplies its own.

  private case class ViewMeta(db: String, name: String, body: String, ctx: String)
  // (database, name) → definition; insertion order preserved for listing
  private var viewRegistry =
    scala.collection.immutable.ListMap.empty[(String, String), ViewMeta]

  /** (owning db, bare name) for a possibly-qualified identifier. */
  private def viewKeyOf(rawName: String): (String, String) =
    keyOf(parser.parseMultipartIdentifier(rawName).takeRight(2), currentDb).get

  private val viewDir = java.nio.file.Paths.get(
    Option(viewCatalogDir).getOrElse(GraftSession.defaultViewCatalog(spark)))
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  // the reference's tables catalog stores sql_context — the database the
  // view was created under, restored when its text is re-resolved
  // (catalog/src/lib.rs tables_table schema; resolve_tables.rs). Stored
  // here as a header comment line above the raw dialect SQL.
  private val ctxHeader = "-- sql_context: "

  // invoked at the END of the class body, once every val is initialized
  private def replayPersistedViews(): Unit =
    listDir(viewDir).map(_.getFileName.toString).filter(_.matches("\\d+_.+\\.sql")).sorted
      .foreach { fn =>
        val seq = fn.takeWhile(_.isDigit).toLong
        viewSeq.updateAndGet(m => math.max(m, seq))
        val stem = fn.dropWhile(_.isDigit).stripPrefix("_").stripSuffix(".sql")
        val text = java.nio.file.Files.readString(viewDir.resolve(fn))
        // headerless files predate the sql_context header
        val (ctx, body) =
          if (text.startsWith(ctxHeader)) {
            val nl = text.indexOf('\n')
            (Some(text.substring(ctxHeader.length, nl).trim), text.substring(nl + 1))
          } else (None, text)
        // `<db>.<name>` stem; a legacy flat-namespace stem (no dot)
        // falls back to the stored context database — and the file is
        // migrated to the scoped stem, so the bare-name delete pattern
        // that legacy files needed (which could collide across
        // databases) never applies to migrated catalogs
        val (db, name) = stem.split("\\.", 2) match {
          case Array(d, n) => (d, n)
          case _ =>
            val owner = ctx.getOrElse("default")
            java.nio.file.Files.move(viewDir.resolve(fn),
              viewDir.resolve(f"${seq}%06d_$owner.$stem.sql"))
            (owner, stem)
        }
        try define(ViewMeta(db, name, body.trim, ctx.getOrElse(currentDb)))
        catch { case e: Exception =>
          System.err.println(s"[graft] persisted view $name not replayed: ${e.getMessage}")
        }
      }

  /** Register `m`, analyzing its body once against the registry it joins,
    * so a body that fails to resolve — or closes a view cycle — leaves the
    * registry as it was and raises. */
  private def define(m: ViewMeta): Unit = {
    val before = viewRegistry
    viewRegistry += ((m.db, m.name) -> m)
    try analyzed(UnresolvedRelation(Seq(m.db, m.name)))
    catch { case e: Exception => viewRegistry = before; throw e }
  }

  // --- multiset tables: the reference's ACTUAL storage semantics over SQL --
  // The reference routes every user-table INSERT/DELETE through the
  // freq-merging store (storage/src/table.rs:309-347; DELETE =
  // TableInsert(NegateFreq(...)), parser/src/delete.rs:56-60). Plain
  // `CREATE TABLE` here maps to a physical-row parquet table (right
  // answers, Spark-native storage); `CREATE MULTISET TABLE` instead binds
  // the name to a [[graft.sources.MultisetStore]] chain, and the
  // statement surface routes through it faithfully:
  //
  //   INSERT INTO t ...            → appendDelta(+1 per source row)
  //   DELETE FROM t [WHERE p]      → appendDelta(matching state, −freq)
  //   DELETE FROM t [WHERE p] LIMIT n → appendDelta(first n expanded rows, −1)
  //                                  (splits within a freq>1 tuple, like
  //                                   the reference's freq-aware limit)
  //   COMPACT TABLE t              → MultisetStore.compact (fold LSM chain)
  //   VACUUM TABLE t               → MultisetStore.vacuum (retention cut)
  //   SELECT ... FROM t            → read() (freq copies materialized)
  //   SELECT ... FROM t AS OF VERSION n → readAt(n) (time travel)
  //   SELECT ... FROM t CHANGES BETWEEN a AND b → changes(a, b) (CDF)
  //
  // Catalog model mirrors the view catalog: each table is a directory
  // `<db>.<name>` under `<warehouse>/_graft_multisets` (or the
  // constructor override), discovered at session start, so multiset
  // tables are durable across sessions like the reference's catalog.
  private val msDir = java.nio.file.Paths.get(
    Option(multisetCatalogDir).getOrElse(besideWarehouse(spark, "_graft_multisets")))
  // (database, name) → storage path; discovered + in-session creations
  private var multisets: Map[(String, String), String] =
    listDir(msDir).map(_.getFileName.toString).filter(_.contains('.')).map { stem =>
      val Array(db, name) = stem.split("\\.", 2)
      ((db, name), msDir.resolve(stem).toString)
    }.toMap

  private def persistView(m: ViewMeta): Unit = {
    java.nio.file.Files.createDirectories(viewDir)
    removeViewFiles(m.db, m.name)
    val seq = viewSeq.incrementAndGet()
    java.nio.file.Files.writeString(viewDir.resolve(f"${seq}%06d_${m.db}.${m.name}.sql"),
      s"$ctxHeader${m.ctx}\n${m.body}")
  }

  // scoped form only: legacy flat-form files are migrated to the scoped
  // stem at replay, so a bare-name pattern (which could match another
  // database's same-named view) is never needed here
  private def removeViewFiles(db: String, name: String): Unit = {
    val stem = s"\\d+_${Regex.quote(db)}\\.${Regex.quote(name)}\\.sql"
    listDir(viewDir).filter(_.getFileName.toString.matches(stem))
      .foreach(java.nio.file.Files.delete)
  }

  private val decimalTypeRe = """(?i)^DECIMAL(?:\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?$""".r

  /** incresql → Spark column types (SURVEY.md §1.5). DECIMAL is capped at
    * the reference's limits — precision 28, scale 14
    * (data/src/datatype.rs:22-23) — and bare `DECIMAL` defaults to
    * DECIMAL(28,0) (parser/src/literals.rs:48), even though Spark itself
    * would allow precision up to 38. */
  private def mapType(t: String): String = t.trim.toUpperCase match {
    case "TEXT" => "STRING"
    case "BYTEA" => "BINARY"
    case "JSON" => "STRING"
    case "JSONPATH" => "STRING"
    case decimalTypeRe(p, s) =>
      val prec = Option(p).map(_.toInt).getOrElse(28)
      val scale = Option(s).map(_.toInt).getOrElse(0)
      require(prec <= 28 && scale <= 14,
        s"DECIMAL($prec,$scale) exceeds the supported maximum DECIMAL(28,14)")
      s"DECIMAL($prec,$scale)"
    case other => other // BOOLEAN/INTEGER/BIGINT/DATE/TIMESTAMP
  }

  /** A CREATE TABLE column list in incresql types as Spark DDL. */
  private def columnsDdl(cols: String): String =
    splitTopLevel(cols).map { colDef =>
      val parts = colDef.trim.split("\\s+", 2)
      s"${parts(0)} ${mapType(parts.lift(1).getOrElse("STRING"))}"
    }.mkString(", ")

  // The dialect-only statements, which Spark's parser cannot parse, are
  // matched on their text; every other statement is parsed by Spark, once.
  private val createTableRe =
    """(?is)^\s*create\s+(multiset\s+)?table\s+([\w.`]+)\s*\((.*)\)\s*;?\s*$""".r
  // OR REPLACE is intercepted too: letting it fall through to raw Spark
  // would create a metastore view beside the scoped catalog
  private val createViewRe =
    """(?is)^\s*create\s+(?:or\s+replace\s+)?view\s+([\w.`]+)\s+as\s+(.*)$""".r
  private val maintainRe = """(?is)^\s*(compact|vacuum)\s+table\s+([\w.`]+)\s*;?\s*$""".r
  // a trailing LIMIT n on DELETE is stripped; Spark parses the rest
  private val deleteLimitRe = """(?is)^\s*(delete\s+from\s+.+?)\s+limit\s+(\d+)\s*;?\s*$""".r

  /** Apply `f` to the stretches of `q` OUTSIDE quoted string literals,
    * leaving literal content byte-identical — so the regex rewrites below
    * can never fire on text like `SELECT 'database()'`. A backtick
    * identifier stays inside its stretch (a rewritten construct may name
    * a table in backticks) but is skipped whole, so a quote character in
    * it never opens a literal. A pattern can't span a literal (none of
    * the rewritten constructs may contain one), so per-segment
    * application is exact. */
  private def mapOutsideQuotes(q: String)(f: String => String): String = {
    val out = new StringBuilder
    var segStart = 0
    var i = 0
    while (i < q.length) {
      val end = skipQuoted(q, i)
      if (end > i && q.charAt(i) != '`') {
        out.append(f(q.substring(segStart, i))).append(q.substring(i, end))
        segStart = end
      }
      i = math.max(end, i + 1)
    }
    out.append(f(q.substring(segStart))).toString
  }

  /** Execute a `;`-separated statement script (the paste-a-.sql-file path
    * a user migrating off the reference's mysql client expects), returning
    * the last statement's result. Splitting is quote-aware, so literals
    * and backtick identifiers containing `;` survive; empty statements
    * (trailing `;`, blank lines) are skipped. */
  def script(text: String): DataFrame = {
    var last: DataFrame = spark.emptyDataFrame
    var start = 0
    def runSegment(upTo: Int): Unit = {
      val stmt = text.substring(start, upTo).trim
      if (stmt.nonEmpty) last = sql(stmt)
      start = upTo + 1
    }
    var i = 0
    while (i < text.length) {
      val end = skipQuoted(text, i)
      if (end > i) i = end
      else {
        if (text.charAt(i) == ';') runSegment(i)
        i += 1
      }
    }
    runSegment(text.length)
    last
  }

  def sql(text: String): DataFrame = text match {
    case createTableRe(multiset, name, cols) if multiset != null =>
      val key @ (db, bare) = viewKeyOf(name)
      require(!multisets.contains(key), s"multiset table $db.$bare already exists")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(columnsDdl(cols))
      val path = msDir.resolve(s"$db.$bare").toString
      // v0 = an empty snapshot carrying the schema (+ __freq), so the
      // table is queryable before its first insert
      MultisetStore.append(spark, path,
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      multisets += (key -> path)
      spark.emptyDataFrame
    case createTableRe(_, name, cols) =>
      spark.sql(s"CREATE TABLE $name (${columnsDdl(cols)}) USING PARQUET")
    case createViewRe(name, body) =>
      // `create view db.name` owns the view to db; bare names own to the
      // current database (tests/views/mod.rs creates default.test_view
      // from inside incresql). The body resolves under the CURRENT
      // database — the view's sql_context — regardless of the owner.
      val (db, bare) = viewKeyOf(name)
      val meta = ViewMeta(db, bare, body.trim.stripSuffix(";").trim, currentDb)
      define(meta)
      persistView(meta)
      spark.emptyDataFrame
    case maintainRe(op, name) =>
      (op.toLowerCase, multisets.get(viewKeyOf(name))) match {
        case ("compact", Some(path)) =>
          // the real thing for multiset tables: fold the snapshot+delta
          // chain into one fresh snapshot (older versions stay for AS OF
          // readers)
          MultisetStore.compact(spark, path)
          spark.emptyDataFrame
        case ("compact", None) =>
          // Parquet/Spark analog of RocksDB compaction (connection.rs:113-126):
          // refresh + recompute stats so subsequent plans see the table fresh.
          spark.catalog.refreshTable(name)
          spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
        case (_, Some(path)) =>
          // drop versions older than the latest snapshot — ends time travel
          // into them, reclaims the chain (compact keeps history; vacuum is
          // the explicit retention cut)
          MultisetStore.vacuum(path)
          spark.emptyDataFrame
        case _ =>
          throw new IllegalArgumentException(
            s"VACUUM TABLE is only valid on multiset tables, got: $name")
      }
    case deleteLimitRe(stmt, n) => statement(stmt, Some(n.toInt))
    case _ => statement(text, None)
  }

  /** A statement Spark's parser accepts, dispatched on its parsed plan;
    * `deleteLimit` is the LIMIT stripped from a DELETE. */
  private def statement(text: String, deleteLimit: Option[Int]): DataFrame = {
    import spark.implicits._
    parser.parsePlan(rewriteQuery(text)) match {
      case ShowFunctions(CurrentNamespace, true, true, None, _) =>
        spark.sessionState.functionRegistry.listFunction()
          .map(_.funcName).distinct.sorted.toDF("function_name")
      case s: ShowNamespacesCommand => run(s).select(col("namespace").as("database"))
      case ShowTables(ns, pattern, _) =>
        // one database's catalog entries (tests/show/tables.rs: empty
        // under default, the three system tables under incresql) — the
        // same rows as incresql.tables, LIKE-filtered as Spark filters
        val db = ns match {
          case UnresolvedNamespace(parts, _) => parts.last.toLowerCase
          case _ => currentDb
        }
        require(databaseNames.contains(db), s"database $db does not exist")
        val names = tableRows.filter(_.database_name == db).map(_.name)
        pattern.fold(names)(StringUtils.filterPattern(names, _)).sorted.toDF("table")
      case d @ DropNamespace(UnresolvedNamespace(Seq(db), _), _, cascade) =>
        // the reference refuses to drop a non-empty database
        // (catalog/src/lib.rs:146-148 check_db_empty); Spark enforces that
        // for tables, and scoped views count as contents too. CASCADE (a
        // Spark extension) instead drops the database's views with it —
        // registry and catalog files included, so no ghost view replays
        // into a later session.
        val owned = viewRegistry.keys.filter(_._1 == db.toLowerCase).toSeq
        if (!cascade)
          require(owned.isEmpty, s"database ${db.toLowerCase} is not empty: it still contains views")
        else owned.foreach { case key @ (vdb, vname) =>
          removeViewFiles(vdb, vname)
          viewRegistry -= key
        }
        run(d)
      case DropTable(UnresolvedIdentifier(Multiset(key), _), _, _) =>
        MultisetStore.deleteRecursively(java.nio.file.Paths.get(multisets(key))) // the chain
        multisets -= key
        spark.emptyDataFrame
      case DropView(UnresolvedIdentifier(ScopedView(key @ (db, bare)), _), _) =>
        removeViewFiles(db, bare)
        viewRegistry -= key
        spark.emptyDataFrame
      case InsertIntoStatement(UnresolvedRelation(Multiset(key), _, _), _, cols, source, overwrite, _, _) =>
        require(!overwrite, "INSERT OVERWRITE is not supported on multiset tables")
        multisetInsert(key, cols, source)
      case d: DeleteFromTable =>
        dmlTarget(d.table) match {
          case (UnresolvedRelation(Multiset(key), _, _), alias) =>
            multisetDelete(multisets(key), alias.getOrElse(key._2), column(d.condition), deleteLimit)
          case (rel, alias) => delete(rel, alias, column(d.condition), deleteLimit)
        }
      case u: UpdateTable =>
        val (rel, alias) = dmlTarget(u.table)
        update(rel, alias, u.assignments, u.condition.map(column).getOrElse(lit(true)))
      case m: MergeIntoTable => merge(m)
      case ExplainCommand(plan, mode) =>
        // Plain EXPLAIN is reference-format: the 4-column tree/col_idx/
        // datatype/expression values table (explain/mod.rs:38-80),
        // golden-tested in ExplainGoldenSpec against the reference's own
        // expected output. EXPLAIN FORMATTED (or EXTENDED, CODEGEN, COST)
        // is Spark's own plan text, for auditing pushdown / broadcast /
        // codegen.
        val df = analyzed(plan)
        if (mode == SimpleMode) RefExplain.explain(spark, df)
        else df.queryExecution.explainString(mode).split("\n").toSeq.toDF("plan")
      case plan => run(plan)
    }
  }

  /** Name parts that denote a registered graft object, as its catalog key. */
  private final class Registered(has: ((String, String)) => Boolean) {
    def unapply(parts: Seq[String]): Option[(String, String)] = keyOf(parts, currentDb).filter(has)
  }
  private val Multiset = new Registered(multisets.contains(_))
  private val ScopedView = new Registered(viewRegistry.contains(_))

  /** A DML target as a plain relation (without the parser's write-privilege
    * options) and the alias the statement gives it, if any. */
  private def dmlTarget(plan: LogicalPlan): (UnresolvedRelation, Option[String]) = plan match {
    case SubqueryAlias(alias, u: UnresolvedRelation) => (dmlTarget(u)._1, Some(alias.name))
    case u: UnresolvedRelation => (UnresolvedRelation(u.multipartIdentifier), None)
  }

  /** The rows of a physical DML target, under the statement's alias. */
  private def rows(rel: UnresolvedRelation, alias: Option[String]): DataFrame = {
    val df = analyzed(rel)
    alias.fold(df)(df.alias)
  }

  /** Stage `df` through a temp path, then overwrite physical `table` with
    * it — the write never reads its own target. */
  private def overwrite(table: UnresolvedRelation, df: DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dml_").toString
    df.write.mode("overwrite").parquet(tmp)
    StoredParquet.read(spark, tmp).write.mode("overwrite").insertInto(table.tableName)
    spark.emptyDataFrame
  }

  /** DELETE FROM t [WHERE p] [LIMIT n] — the reference plans this as
    * TableInsert(NegateFreq(Filter(Scan t))) with freq-aware LIMIT
    * (delete.rs:12-62, limit.rs:27-45). Parquet-table rewrite analog:
    * keep everything except the matched rows (all of them, or the first
    * n in scan order for LIMIT). Rows where the predicate is NULL stay.
    *
    * CONTRACT — which rows "the first n" are: scan order, i.e. file and
    * partition layout order (`monotonically_increasing_id` over the
    * scan). This is storage-defined, exactly like the reference, whose
    * LIMIT'd delete removes the first n rows in ITS storage-key iteration
    * order (limit.rs:27-45 over RocksDB scan order): deterministic for a
    * fixed physical layout, but a rewrite of the table (compaction,
    * repartition) may change which rows a subsequent DELETE..LIMIT
    * removes — on both engines. Callers needing a value-defined victim
    * set should DELETE WHERE over a unique key instead.
    * DeleteLimitSpec pins the fixed-layout behavior.
    */
  private def delete(table: UnresolvedRelation, alias: Option[String], pred: Column,
      limit: Option[Int]): DataFrame = {
    val df = rows(table, alias)
    overwrite(table, limit match {
      case None =>
        df.filter(!coalesce(pred, lit(false)))
      case Some(n) =>
        val staged = df.withColumn("__rid", monotonically_increasing_id())
        val doomed = staged.filter(coalesce(pred, lit(false)))
          .orderBy(col("__rid")).limit(n).select(col("__rid").as("__doomed"))
        staged.join(doomed, col("__rid") === col("__doomed"), "left_anti")
          .drop("__rid")
    })
  }

  /** INSERT INTO a multiset table: the reference's TableInsert — +1 freq
    * per source row, persisted as an O(|delta|) LSM delta append
    * (table_insert.rs:22-55 over storage/src/table.rs:309-347). Source is
    * the statement's parsed `VALUES (...)...` or SELECT plan; an optional
    * column list maps source columns positionally, unlisted columns are
    * NULL. Values cast to the declared column types (non-ANSI:
    * unparseable → NULL, the reference's cast semantics). */
  private def multisetInsert(key: (String, String), colList: Seq[String],
      source: LogicalPlan): DataFrame = {
    val path = multisets(key)
    // the declared columns, from the footer of the latest version — no
    // read plan over the chain
    val stored = StoredParquet.schema(spark, s"$path/v${MultisetStore.versions(path).last}")
    val dataCols = stored.fields.toIndexedSeq.filter(_.name != MultisetStore.freqCol)
    val src = analyzed(source)
    val listed = (if (colList.nonEmpty) colList else dataCols.map(_.name)).map(_.toLowerCase)
    require(src.columns.length == listed.length,
      s"INSERT column count ${listed.length} != source arity ${src.columns.length}")
    listed.foreach(c => require(dataCols.exists(_.name.toLowerCase == c),
      s"INSERT target column $c not in ${key._1}.${key._2}"))
    val byName = src.columns.zip(listed).map { case (s, t) => (t, col(s)) }.toMap
    val aligned = src.select(dataCols.map { f =>
      byName.getOrElse(f.name.toLowerCase, lit(null)).cast(f.dataType).as(f.name)
    }: _*)
    MultisetStore.appendDelta(spark, path, aligned)
    spark.emptyDataFrame
  }

  /** DELETE FROM a multiset table — the reference's
    * TableInsert(NegateFreq(Filter(Scan t))) (delete.rs:12-62):
    *
    *   - no LIMIT: every matching tuple's full frequency is negated in
    *     one O(|matching state|) delta (no expansion needed — negating
    *     the snapshot freq ≡ −1 per materialized copy);
    *   - LIMIT n: the first n EXPANDED rows in scan order get −1 each,
    *     so the limit splits within a freq>1 tuple exactly like the
    *     reference's freq-aware limit (limit.rs:27-45) — deterministic
    *     for a fixed chain layout, same storage-order contract as the
    *     physical-table path's [[delete]].
    *
    * Rows where the predicate is NULL stay, per 3VL filter semantics.
    * `alias` qualifies the columns (`t1.b`, as in the reference test). */
  private def multisetDelete(path: String, alias: String, pred: Column,
      limit: Option[Int]): DataFrame = {
    val freqCol = MultisetStore.freqCol
    def doomed(df: DataFrame) = df.alias(alias).filter(coalesce(pred, lit(false)))
    limit match {
      case None => MultisetStore.appendDelta(spark, path,
        doomed(MultisetStore.snapshot(spark, path)).withColumn(freqCol, -col(freqCol)))
      case Some(n) => MultisetStore.appendDelta(spark, path,
        doomed(MultisetStore.read(spark, path)).limit(n), freq = -1L)
    }
    spark.emptyDataFrame
  }

  /** SET assignments as (lower-cased target column → value), each target
    * checked against `cols`; a qualified target (`t.c`) names column c. */
  private def assigned(as: Seq[Assignment], cols: Seq[String], what: String): Map[String, Column] =
    as.map { a =>
      val c = a.key.asInstanceOf[UnresolvedAttribute].nameParts.last.toLowerCase
      require(cols.exists(_.toLowerCase == c), s"$what target column $c not in the table")
      c -> column(a.value)
    }.toMap

  /** UPDATE t SET c = e[, ...] [WHERE p] — a Spark-native DML extension
    * (the reference's statement surface stops at INSERT/DELETE,
    * connection.rs:35-136). Planned as the same whole-table rewrite shape
    * as [[delete]]: one projection where each assigned column becomes
    * `CASE WHEN coalesce(p, false) THEN expr ELSE col END` — rows where
    * the predicate is NULL keep their values, per ANSI — staged through a
    * temp path so the overwrite never reads its target. The assignments
    * are Spark's parsed expressions over the dialect-rewritten text, so
    * `->`/`->>` etc. work on the right-hand side.
    */
  private def update(table: UnresolvedRelation, alias: Option[String], as: Seq[Assignment],
      pred: Column): DataFrame = {
    val df = rows(table, alias)
    val set = assigned(as, df.columns.toIndexedSeq, "UPDATE")
    overwrite(table, df.select(df.columns.toIndexedSeq.map { c =>
      set.get(c.toLowerCase) match {
        case Some(e) => when(coalesce(pred, lit(false)), e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*))
  }

  /** MERGE INTO t USING s ON cond
    * WHEN MATCHED THEN UPDATE SET ... | WHEN MATCHED THEN DELETE
    * [WHEN NOT MATCHED THEN INSERT * | (cols) VALUES (exprs)] — the upsert
    * statement (Spark-native DML extension; OSS Spark reserves MERGE for
    * table formats). Planned as one whole-table rewrite:
    *
    *   kept+updated = t LEFT JOIN s ON cond, each column
    *     CASE WHEN matched THEN update-expr ELSE t.col END;
    *   inserted    = s LEFT ANTI JOIN t ON cond, projected to t's schema
    *     (INSERT * maps source columns by name; unlisted columns NULL);
    *   new t = kept+updated UNION ALL inserted, staged then overwritten.
    *
    * ANSI cardinality rule enforced: a target row matching MORE THAN ONE
    * source row is an error (checked with one count — a multi-match would
    * otherwise silently duplicate target rows through the join).
    * The source is any relation or subquery Spark parses. Conditions and
    * expressions may reference both aliases; they are Spark's parsed
    * expressions over the dialect-rewritten text, so `->`/`->>` work too.
    * Rejected with an error naming the clause, never dropped: a clause
    * condition (`WHEN [NOT] MATCHED AND <cond>`), `UPDATE SET *` and any
    * `WHEN NOT MATCHED BY SOURCE` action.
    */
  private def merge(m: MergeIntoTable): DataFrame = {
    def unsupported(clause: String) =
      throw new IllegalArgumentException(s"MERGE does not support $clause")
    if (m.notMatchedBySourceActions.nonEmpty) unsupported("WHEN NOT MATCHED BY SOURCE")
    if (m.matchedActions.exists(_.condition.nonEmpty))
      unsupported("WHEN MATCHED AND <condition>")
    if (m.notMatchedActions.exists(_.condition.nonEmpty))
      unsupported("WHEN NOT MATCHED AND <condition>")
    val (table, tAliasOpt) = dmlTarget(m.targetTable)
    // ANSI lets an unaliased target be referenced by its bare name
    val tA = tAliasOpt.getOrElse(table.multipartIdentifier.last)
    val target = analyzed(table)
    val tgt = target.alias(tA)
    val srcDf = analyzed(m.sourceTable)
    val cond = column(m.mergeCondition)
    val targetCols = target.columns.toIndexedSeq

    // with clause conditions rejected, Spark's parser leaves at most one
    // action of each kind
    val (deleteMatched, updateSet) = m.matchedActions.headOption match {
      case Some(_: DeleteAction) => (true, Map.empty[String, Column])
      case Some(u: UpdateAction) => (false, assigned(u.assignments, targetCols, "MERGE update"))
      case Some(_) => unsupported("UPDATE SET *")
      case None => (false, Map.empty[String, Column])
    }

    // ANSI: each target row may match at most one source row
    val joined = tgt.join(srcDf, cond, "left_outer")
    require(joined.count() == target.count(),
      s"MERGE source matches multiple rows of ${table.tableName} for some target row")

    // matched ⟺ the join found a source row; probe via the join condition
    // itself being satisfiable — a NULL-extended source side leaves cond
    // NULL/false
    val keptUpdated =
      if (deleteMatched)
        joined.filter(!coalesce(cond, lit(false)))
          .select(targetCols.map(c => col(s"$tA.$c").as(c)): _*)
      else joined.select(targetCols.map { c =>
        updateSet.get(c.toLowerCase) match {
          case Some(e) =>
            when(coalesce(cond, lit(false)), e).otherwise(col(s"$tA.$c")).as(c)
          case None => col(s"$tA.$c").as(c)
        }
      }: _*)

    val inserted = m.notMatchedActions.headOption.map { action =>
      val anti = srcDf.join(tgt, cond, "left_anti")
      val byCol = action match {
        case i: InsertAction => assigned(i.assignments, targetCols, "MERGE insert")
        case _ => // INSERT *: source columns by name
          val srcCols = anti.columns.map(_.toLowerCase).toSet
          targetCols.map(_.toLowerCase).filter(srcCols).map(c => c -> col(c)).toMap
      }
      anti.select(targetCols.map { c =>
        byCol.getOrElse(c.toLowerCase, lit(null)).cast(target.schema(c).dataType).as(c)
      }: _*)
    }
    overwrite(table, inserted.map(keptUpdated.unionByName(_)).getOrElse(keptUpdated))
  }

  /** Split a CREATE TABLE column list "a INT, b DECIMAL(10,2)" on
    * top-level commas only — parens, quoted literals and backtick
    * identifiers are opaque. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      val end = skipQuoted(s, i)
      if (end > i) i = end
      else {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
          case _ => ()
        }
        i += 1
      }
    }
    out += s.substring(start)
    out.result().filter(_.trim.nonEmpty)
  }

  // --- name resolution -----------------------------------------------------
  // The reference resolves table names on its parsed query, inlining a
  // view's stored text under the view's sql_context
  // (p1_validation/resolve_tables.rs:35-58). Same here, on Spark's parsed
  // plan: `resolve` replaces each relation that names a graft object —
  //   - incresql.databases / incresql.tables (bare while the resolving
  //     database is incresql): the live catalog as a local relation;
  //   - a scoped view (qualified from anywhere, bare in its owning
  //     database): its body, parsed and resolved under its sql_context;
  //   - a multiset table: MultisetStore.read, or readAt under Spark's
  //     `VERSION AS OF n` (the dialect's `AS OF VERSION n` maps onto it);
  //   - the table functions graft_changes / graft_directory, which the
  //     dialect's CHANGES BETWEEN and FROM DIRECTORY rewrite to —
  // under a SubqueryAlias named `db.name`, so user aliases, `db.name.col`
  // qualifiers, comma joins and TABLESAMPLE resolve exactly as Spark
  // resolves catalog tables. Every other name is left to Spark, and a
  // CTE name shadows a bare graft name in its scope. Reads are planned
  // per statement, so each one sees the latest committed version.

  private def isSystemTable(key: (String, String)): Boolean =
    key._1 == "incresql" && (key._2 == "databases" || key._2 == "tables")

  private def keyOf(parts: Seq[String], db: String): Option[(String, String)] =
    parts.map(_.toLowerCase) match {
      case Seq(n) => Some((db, n))
      case Seq(d, n) => Some((d, n))
      case _ => None
    }

  private def isGraftName(key: (String, String)): Boolean =
    isSystemTable(key) || viewRegistry.contains(key) || multisets.contains(key)

  /** `plan` with every graft relation replaced, bare names resolving in
    * database `db`. `inlining` is the chain of views being expanded (a
    * view reached again is a cycle); `ctes` are the CTE names in scope. */
  private def resolve(plan: LogicalPlan, db: String,
      inlining: List[(String, String)] = Nil, ctes: Set[String] = Set.empty): LogicalPlan = {
    def in(p: LogicalPlan) = resolve(p, db, inlining, ctes)
    def aliased(key: (String, String), p: LogicalPlan) = SubqueryAlias(Seq(key._1, key._2), p)
    def multiset(parts: Seq[String], what: String): ((String, String), String) = {
      val key = keyOf(parts, db).filter(multisets.contains).getOrElse(throw new IllegalArgumentException(
        s"$what is only valid on multiset tables, got: ${parts.mkString(".")}"))
      (key, multisets(key))
    }
    plan match {
      case w: UnresolvedWith =>
        // each CTE sees the names before it (and itself, if recursive)
        val (rels, names) = w.cteRelations.foldLeft((Vector.empty[(String, SubqueryAlias, Option[Int])], ctes)) {
          case ((acc, seen), (n, q, depth)) =>
            val scope = if (w.allowRecursion) seen + n.toLowerCase else seen
            val body = resolve(q, db, inlining, scope).asInstanceOf[SubqueryAlias]
            (acc :+ ((n, body, depth)), seen + n.toLowerCase)
        }
        w.copy(child = resolve(w.child, db, inlining, names), cteRelations = rels)
      case u: UnresolvedRelation =>
        val parts = u.multipartIdentifier
        keyOf(parts, db).filter(k => isGraftName(k) && !(parts.size == 1 && ctes(k._2))) match {
          case Some(key) if isSystemTable(key) => aliased(key, systemTable(key._2))
          case Some(key) if viewRegistry.contains(key) =>
            if (inlining.contains(key)) throw new IllegalArgumentException("view cycle: " +
              (key :: inlining).reverse.map { case (d, n) => s"$d.$n" }.mkString(" -> "))
            val v = viewRegistry(key)
            val body = DatasetBridge.ofRows(spark, resolve(parser.parsePlan(rewriteQuery(v.body)),
              v.ctx, key :: inlining)).queryExecution.analyzed
            // every output re-aliased, as Spark's own view expansion does:
            // Spark's optimizer fails a correlated scalar subquery over a
            // relation whose plan is a bare UNION (PushProjectionThroughUnion)
            aliased(key, Project(body.output.map(a => Alias(a, a.name)()), body))
          case Some(key) =>
            aliased(key, MultisetStore.read(spark, multisets(key)).queryExecution.analyzed)
          // a view body's other bare names resolve in its sql_context too
          case None if parts.size == 1 && db != currentDb && !ctes(parts.head.toLowerCase) &&
              !spark.sessionState.catalog.isTempView(parts) =>
            u.copy(multipartIdentifier = db +: parts)
          case None => u
        }
      case RelationTimeTravel(u: UnresolvedRelation, None, Some(v)) =>
        val (key, path) = multiset(u.multipartIdentifier, "AS OF VERSION")
        aliased(key, MultisetStore.readAt(spark, path, v.toInt).queryExecution.analyzed)
      case f: UnresolvedTableValuedFunction if f.name.map(_.toLowerCase) == Seq("graft_changes") =>
        val Seq(name, from, to) = f.functionArgs.map(_.eval().toString)
        val (key, path) = multiset(parser.parseMultipartIdentifier(name), "CHANGES BETWEEN")
        aliased(key, MultisetStore.changes(spark, path, from.toInt, to.toInt).queryExecution.analyzed)
      case f: UnresolvedTableValuedFunction if f.name.map(_.toLowerCase) == Seq("graft_directory") =>
        val Seq(path, delimiter) = f.functionArgs.map(_.eval().toString)
        val raw = spark.read
          .option("recursiveFileLookup", "true")
          .option("delimiter", delimiter)
          .option("inferSchema", "false")
          .csv(path)
        val cols = raw.columns.toIndexedSeq.map(col)
        raw.select(to_json(array(cols.map(_.cast("string")): _*)).as("data"))
          .queryExecution.analyzed
      case other =>
        other.mapChildren(in).transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(in(s.plan))
        }
    }
  }

  /** A DataFrame over `plan` with its graft names resolved. */
  private def analyzed(plan: LogicalPlan): DataFrame =
    DatasetBridge.ofRows(spark, resolve(plan, currentDb))

  /** A parsed statement or query as a DataFrame, its graft names resolved. */
  private def run(parsed: LogicalPlan): DataFrame = {
    val resolved = resolve(parsed, currentDb)
    // Spark keeps a view's TEXT and re-parses it at each use, where a
    // graft name no longer resolves
    require(!(parsed.isInstanceOf[CreateTempView] || parsed.isInstanceOf[CreateView]) ||
      resolved.fastEquals(parsed), "a Spark view body cannot name a graft view, " +
      "multiset table or system table; define it with CREATE VIEW instead")
    DatasetBridge.ofRows(spark, resolved)
  }

  /** A parsed expression as a Column; a subquery in it may name graft
    * relations. */
  private def column(e: Expression): Column = ColumnBridge.column(e.transform {
    case s: SubqueryExpression => s.withNewPlan(resolve(s.plan, currentDb))
  })

  // --- system catalog tables ---------------------------------------------
  // The reference bootstraps queryable catalog tables (catalog/src/
  // bootstrap.rs:22-66): incresql.databases (name TEXT) and
  // incresql.tables (database_name, name, type, sql, sql_context,
  // table_id, columns, system) — its own tests SELECT from them
  // (tests/building_blocks/tables.rs, tests/create/table.rs). Each
  // reference lists the live Spark catalog into a local relation; nothing
  // is listed for a statement that does not name one.

  private def systemTable(name: String): LogicalPlan = {
    import spark.implicits._
    // case-class encoders, not toDF(names): a rename would wrap the local
    // relation in a Project and break TABLE rendering in EXPLAIN
    val df =
      if (name == "databases")
        // bootstrap databases exist even before any user DDL
        databaseNames.map(SysDbRow).toDF()
      else tableRows.toDF()
    df.queryExecution.analyzed
  }

  private def databaseNames: Seq[String] =
    (spark.catalog.listDatabases().collect().map(_.name).toSeq ++
      Seq("incresql", "information_schema")).distinct.sorted

  private def tableRows: Seq[SysTableRow] = {
    val cur = currentDb
    val user = spark.catalog.listDatabases().collect().toSeq.flatMap { db =>
      spark.catalog.listTables(db.name).collect()
    }
      // a temp view that a graft name shadows here is unreachable
      // (a user view `tables` under incresql): not catalog content
      .filterNot(t => t.isTemporary && keyOf(Seq(t.name), cur).exists(isGraftName))
      .map { t =>
        val db = Option(t.database).getOrElse("default")
        val typ = if (t.tableType == "VIEW" || t.isTemporary) "view" else "table"
        SysTableRow(db, t.name, typ, None, None, None, None, system = false)
      }
      .distinct
    // database-scoped views list under their owning database with
    // their stored SQL text and sql_context, as the reference's
    // tables catalog does (catalog/src/lib.rs tables schema)
    val scoped = viewRegistry.values.map(m =>
      SysTableRow(m.db, m.name, "view", Some(m.body), Some(m.ctx),
        None, None, system = false)).toSeq
    // multiset tables list as plain tables under their owning db
    val msRows = multisets.keys.map { case (db, name) =>
      SysTableRow(db, name, "table", None, None, None, None, system = false)
    }.toSeq
    val sys = Seq( // ids fixed by the reference bootstrap
      SysTableRow("incresql", "prefix_tables", "table", None, None, Some(0L), None, system = true),
      SysTableRow("incresql", "databases", "table", None, None, Some(2L), None, system = true),
      SysTableRow("incresql", "tables", "table", None, None, Some(4L), None, system = true))
    (user ++ scoped ++ msRows ++ sys).sortBy(r => (r.database_name, r.name)) // pk order
  }

  // --- query dialect rewriting -------------------------------------------

  private val directoryRe: Regex =
    """(?is)\bdirectory\s+"([^"]+)"(?:\s+with\s*\(\s*delimiter\s*=\s*"([^"]*)"\s*\))?""".r
  private val limitOffsetRe: Regex =
    """(?i)\blimit\s+(\d+)\s*,\s*(\d+)""".r
  // `t AS OF VERSION n` → Spark's `t VERSION AS OF n`; `t CHANGES
  // BETWEEN a AND b` → graft_changes('t', a, b)
  private val asOfRe: Regex = """(?i)\bas\s+of\s+version\s+(\d+)""".r
  private val changesRe: Regex =
    """(?i)(?<![\w.`])([\w.`]+)\s+changes\s+between\s+(-?\d+)\s+and\s+(\d+)""".r

  private def sqlString(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private[sql] def rewriteQuery(q: String): String = {
    // Text-level rewrites run only OUTSIDE string literals, so
    // `SELECT 'database()'` stays untouched.
    var out = mapOutsideQuotes(q) { seg =>
      var s = asOfRe.replaceAllIn(seg, m => s"VERSION AS OF ${m.group(1)}")
      s = changesRe.replaceAllIn(s, m => Regex.quoteReplacement(
        s"graft_changes(${sqlString(m.group(1))}, ${m.group(2)}, ${m.group(3)})"))
      // MySQL @@ magic variables → constants
      // (p1_validation/sub_in_special_vars.rs:7-32)
      s = s.replaceAll("(?i)@@max_allowed_packet", "16777215")
      s = s.replaceAll("(?i)@@socket", "''")
      // database() → Spark's current_database()
      s = s.replaceAll("(?i)\\bdatabase\\s*\\(\\s*\\)", "current_database()")
      // LIMIT off,n → LIMIT n OFFSET off
      limitOffsetRe.replaceAllIn(s, m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    }
    // FROM DIRECTORY "path" WITH(delimiter=",") → graft_directory(...)
    // (runs on the raw text: the path IS a double-quoted literal)
    out = directoryRe.replaceAllIn(out, m => Regex.quoteReplacement(
      s"graft_directory(${sqlString(m.group(1))}, ${sqlString(Option(m.group(2)).getOrElse(","))})"))
    // QUALIFY clause → select-list predicate + one-level-out filter
    out = GraftSession.rewriteQualify(out)
    // -> / ->> json operators
    rewriteJsonOps(out)
  }

  /** Rewrite `lhs -> 'path'` / `lhs ->> 'path'` where lhs is a string
    * literal, an identifier chain, or a balanced-paren call. Operators
    * inside quoted string literals are left untouched. */
  private[sql] def rewriteJsonOps(q: String): String = {
    var text = q
    var idx = findOpOutsideQuotes(text)
    while (idx >= 0) {
      val isUnquote = text.startsWith("->>", idx)
      val opLen = if (isUnquote) 3 else 2
      val lhsStart = findLeftOperandStart(text, idx)
      val (rhs, rhsEnd) = findRightOperand(text, idx + opLen)
      val lhs = text.substring(lhsStart, idx).trim
      val inner = s"json_extract_mysql($lhs, $rhs)"
      val call = if (isUnquote) s"json_unquote($inner)" else inner
      text = text.substring(0, lhsStart) + call + text.substring(rhsEnd)
      idx = findOpOutsideQuotes(text)
    }
    text
  }

  /** Index of the first `->` / `->>` outside quotes; -1 if none. The scan
    * runs front-to-back, so an operator whose LEFT OPERAND is itself a
    * string literal is still found (the literal closes before the
    * operator starts). */
  private def findOpOutsideQuotes(s: String): Int = {
    var i = 0
    while (i < s.length - 1) {
      val end = skipQuoted(s, i)
      if (end > i) i = end
      else if (s.charAt(i) == '-' && s.charAt(i + 1) == '>') return i
      else i += 1
    }
    -1
  }

  private def findLeftOperandStart(s: String, opStart: Int): Int = {
    var i = opStart - 1
    while (i >= 0 && s.charAt(i).isWhitespace) i -= 1
    if (i >= 0 && (s.charAt(i) == '\'' || s.charAt(i) == '"')) {
      // string literal operand: scan back to its opening quote
      val quote = s.charAt(i)
      i -= 1
      while (i >= 0 && s.charAt(i) != quote) i -= 1
      i
    } else if (i >= 0 && s.charAt(i) == ')') {
      var depth = 0
      while (i >= 0) {
        s.charAt(i) match {
          case ')' => depth += 1
          case '(' => depth -= 1; if (depth == 0) { i -= 1; return skipIdentBack(s, i) + 1 }
          case _ => ()
        }
        i -= 1
      }
      0
    } else skipIdentBack(s, i) + 1
  }

  private def skipIdentBack(s: String, from: Int): Int = {
    var i = from
    while (i >= 0 && (s.charAt(i).isLetterOrDigit ||
        "_.`$".contains(s.charAt(i)))) i -= 1
    i
  }

  /** Right operand: a quoted path literal (single or double quoted). */
  private def findRightOperand(s: String, from: Int): (String, Int) = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    require(i < s.length && (s.charAt(i) == '"' || s.charAt(i) == '\''),
      s"expected quoted jsonpath after -> in: $s")
    val quote = s.charAt(i)
    var j = i + 1
    while (j < s.length && s.charAt(j) != quote) j += 1
    ("'" + s.substring(i + 1, j).replace("'", "\\'") + "'", j + 1)
  }

  // last statement of the constructor: every val above is initialized
  replayPersistedViews()
}
