package graft.sql

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger
import scala.util.matching.Regex

/** The reference's SQL front door re-expressed over Spark SQL: a thin
  * statement dispatcher + dialect pre-rewriter, NOT a parser fork
  * (SURVEY.md §4.2 — "string pre-rewriter" verdict). Statement surface
  * mirrors /root/reference/src/runtime/src/connection.rs:35-136:
  *
  *   SHOW FUNCTIONS / DATABASES / TABLES, USE db, CREATE/DROP DATABASE,
  *   CREATE TABLE (incresql types), CREATE/DROP VIEW, DROP TABLE,
  *   COMPACT TABLE, and queries/DML in the MySQL-ish dialect:
  *     - `FROM DIRECTORY "path" [WITH(delimiter="c")]` recursive CSV
  *       scan emitting one `data` JSON-array column (file_scan.rs:15-52)
  *     - `LIMIT offset, n` (select.rs:232-254)
  *     - `->` / `->>` json operators (expression.rs:176-196)
  *     - backtick identifiers and double-quoted strings (Spark-native).
  */
object GraftSession {
  // encoder-visible row shapes for the system catalog views (must live
  // outside the class: inner case classes can't be encoded)
  private[sql] case class SysDbRow(name: String)
  private[sql] case class SysTableRow(
      database_name: String, name: String, `type`: String,
      sql: Option[String], sql_context: Option[String],
      table_id: Option[Long], columns: Option[String], system: Boolean)

  /** Default durable-view location: `_graft_views` beside the session's
    * warehouse, so sessions sharing a warehouse share their views — the
    * Spark analog of the reference's storage-directory-scoped catalog. */
  def defaultViewCatalog(spark: SparkSession): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path =
      if (wh.contains(":")) java.nio.file.Paths.get(new java.net.URI(wh)).toString
      else wh
    path.stripSuffix("/") + "/_graft_views"
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

  /** Index of the first of `words` appearing OUTSIDE quotes (single,
    * double, or backtick-identifier) at paren depth 0 as a whole word,
    * scanning from `from`; -1 if none — so a column named `` `qualify` ``
    * can never trigger the rewrite. */
  private def findTopLevelWord(s: String, words: Seq[String], from: Int): Int = {
    var i = from
    var quote: Char = 0
    var depth = 0
    val lower = s.toLowerCase
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        else if (c == '\\' && quote != '`') i += 1
      } else if (c == '\'' || c == '"' || c == '`') quote = c
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

  GraftFunctions.register(spark)
  private val dirCounter = new AtomicInteger(0)

  // bootstrap databases, as the reference creates on first boot
  // (catalog/src/bootstrap.rs:22-24) — makes `USE incresql` etc. valid
  Seq("incresql", "information_schema").foreach(db =>
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))

  // --- persistent view catalog -------------------------------------------
  // The reference stores views as SQL text (+ sql_context) in catalog
  // tables, durable across connections, and re-inlines the text at
  // resolve time (/root/reference/src/catalog/src/lib.rs:176+,
  // p1_validation/resolve_tables.rs:35-58). Same model here: CREATE VIEW
  // persists the raw dialect SQL as `<seq>_<db>.<name>.sql` (first line:
  // the sql_context header) under the view-catalog dir (default:
  // `<warehouse>/_graft_views`); a new GraftSession replays the files in
  // creation order — so chained views resolve — re-running the dialect
  // rewriter under each view's stored database context. A view whose
  // base tables are absent in the new session is skipped with a warning
  // (the reference would defer that error to query time; pinned in
  // ViewCatalogSpec).
  //
  // Views are DATABASE-SCOPED, as in the reference (its catalog keys
  // views by (database, name) and unqualified references resolve in the
  // current database only — resolve_tables.rs:35-58): `CREATE VIEW
  // db.name` / bare `name` owns the view to `db` / the current database;
  // a bare reference resolves only when the current database matches;
  // a qualified `db.name` reference resolves from anywhere. Spark temp
  // views are session-global, so each view registers under the mangled
  // name `graft_view_<db>__<name>` and the dialect rewriter maps
  // references onto it, keeping the reference default alias (`name`)
  // unless the query supplies its own.

  private case class ViewMeta(db: String, name: String, body: String, ctx: String) {
    def mangled: String = s"graft_view_${db}__$name"
    // compiled once per view definition, not per statement
    private def q(s: String) = java.util.regex.Pattern.quote(s)
    private val aliasTail = """(\s+(?:[Aa][Ss]\s+)?([A-Za-z_]\w*))?"""
    lazy val qualifiedRe: Regex =
      ("(?i)(?<![\\w.`])" + q(s"$db.$name") + "\\b(?!\\s*\\.)" + aliasTail).r
    lazy val qualifiedColRe: Regex =
      ("(?i)(?<![\\w.`])" + q(s"$db.$name") + "(?=\\s*\\.)").r
    lazy val bareRe: Regex =
      ("(?i)\\b(from|join)\\s+" + q(name) + "\\b(?!\\s*\\.)" + aliasTail).r
  }
  // (database, name) → definition; insertion order preserved for listing
  private var viewRegistry =
    scala.collection.immutable.ListMap.empty[(String, String), ViewMeta]

  /** (owning db, bare name) for a possibly-qualified view identifier. */
  private def viewKeyOf(rawName: String): (String, String) = {
    val parts = stripTicks(rawName).split('.')
    if (parts.length > 1) (parts(parts.length - 2).toLowerCase, parts.last.toLowerCase)
    else (spark.catalog.currentDatabase, parts.last.toLowerCase)
  }

  private val viewDir = java.nio.file.Paths.get(
    Option(viewCatalogDir).getOrElse(GraftSession.defaultViewCatalog(spark)))
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  // invoked at the END of the class body — rewriteQuery needs the regex
  // vals below to be initialized before any stored view text is replayed
  private def replayPersistedViews(): Unit = {
    if (java.nio.file.Files.isDirectory(viewDir)) {
      val files = {
        val s = java.nio.file.Files.list(viewDir)
        try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala.toVector
        finally s.close()
      }
      files.map(_.getFileName.toString).filter(_.matches("\\d+_.+\\.sql")).sorted
        .foreach { fn =>
          val seq = fn.takeWhile(_.isDigit).toLong
          viewSeq.updateAndGet(m => math.max(m, seq))
          val stem = fn.dropWhile(_.isDigit).stripPrefix("_").stripSuffix(".sql")
          val text = java.nio.file.Files.readString(viewDir.resolve(fn))
          // restore the stored sql_context for resolution, then put the
          // session database back (headerless files predate the header)
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
          val prevDb = spark.catalog.currentDatabase
          try {
            ctx.filter(_ != prevDb).foreach(c => spark.sql(s"USE $c"))
            syncContextViews()
            // bare temp views of the stored context database must exist
            // while this body analyzes: view references in positions the
            // FROM/JOIN pin can't reach (comma cross-join lists) resolve
            // through them, exactly as they did at creation time
            syncViewNamespace()
            val meta = ViewMeta(db, name, body.trim,
              ctx.getOrElse(spark.catalog.currentDatabase))
            spark.sql(s"CREATE OR REPLACE TEMP VIEW ${meta.mangled} AS " +
              rewriteQuery(contextQualify(meta.body)))
            viewRegistry += ((db, name) -> meta)
            viewEpoch += 1
          } catch { case e: Exception =>
            System.err.println(s"[graft] persisted view $name not replayed: ${e.getMessage}")
          } finally {
            if (spark.catalog.currentDatabase != prevDb) spark.sql(s"USE $prevDb")
          }
        }
    }
  }

  private def stripTicks(name: String): String = name.replace("`", "")

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
    Option(multisetCatalogDir).getOrElse {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val p = if (wh.contains(":")) java.nio.file.Paths.get(new java.net.URI(wh)).toString else wh
      p.stripSuffix("/") + "/_graft_multisets"
    })
  // (database, name) → storage path; discovered + in-session creations
  private var multisets: Map[(String, String), String] = {
    if (java.nio.file.Files.isDirectory(msDir)) {
      val s = java.nio.file.Files.list(msDir)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .map(_.getFileName.toString).filter(_.contains('.'))
        .map { stem =>
          val Array(db, name) = stem.split("\\.", 2)
          ((db, name), msDir.resolve(stem).toString)
        }.toMap
      finally s.close()
    } else Map.empty
  }
  private val msAsOfCounter = new AtomicInteger(0)
  // bare temp views registered for the CURRENT database's multiset tables
  private var bareMsNames = Set.empty[String]

  private def msMangled(db: String, name: String) = s"graft_ms_${db}__$name"
  private def isMultiset(raw: String): Boolean = multisets.contains(viewKeyOf(raw))
  private def msPath(raw: String): String = multisets(viewKeyOf(raw))

  /** Re-register the session temp views over each multiset table's
    * CURRENT state (reads are lazy, but the version chain is resolved at
    * registration, so every statement sees the latest committed
    * version). Bare names resolve only while the owning database is
    * current, like the reference's unqualified resolution. */
  private def syncMultisetViews(): Unit = {
    val cur = spark.catalog.currentDatabase
    multisets.foreach { case ((db, name), path) =>
      val df = graft.sources.MultisetStore.read(spark, path)
      df.createOrReplaceTempView(msMangled(db, name))
      if (db == cur) df.createOrReplaceTempView(name)
    }
    val want = multisets.keys.collect { case (db, n) if db == cur => n }.toSet
    (bareMsNames -- want).foreach(spark.catalog.dropTempView)
    bareMsNames = want
  }

  /** Qualified `db.name` multiset references → mangled temp views (same
    * textual pass as scoped views; bare names resolve natively through
    * the synced temp views). */
  private def rewriteMultisetRefs(q: String): String = {
    var out = q
    multisets.keys.foreach { case (db, name) =>
      val qn = java.util.regex.Pattern.quote(s"$db.$name")
      val aliasTail = """(\s+(?:[Aa][Ss]\s+)?([A-Za-z_]\w*))?"""
      val re = ("(?i)(?<![\\w.`])" + qn + "\\b(?!\\s*\\.)" + aliasTail).r
      out = re.replaceAllIn(out, mm => Regex.quoteReplacement(
        aliasedRef(msMangled(db, name), name, Option(mm.group(1)).getOrElse(""),
          Option(mm.group(2)))))
      out = ("(?i)(?<![\\w.`])" + qn + "(?=\\s*\\.)").r
        .replaceAllIn(out, _ => Regex.quoteReplacement(name))
    }
    out
  }

  // `FROM t AS OF VERSION n` — time travel over the retained LSM chain
  private val asOfRe: Regex =
    """(?i)(?<![\w.`])([\w.`]+)\s+as\s+of\s+version\s+(\d+)(\s+(?:as\s+)?([A-Za-z_]\w*))?""".r

  private def rewriteAsOf(q: String): String =
    asOfRe.replaceAllIn(q, m => {
      val raw = m.group(1)
      require(isMultiset(raw),
        s"AS OF VERSION is only valid on multiset tables, got: $raw")
      val (db, name) = viewKeyOf(raw)
      val v = m.group(2).toInt
      val view = s"graft_ms_asof_${msAsOfCounter.incrementAndGet()}"
      graft.sources.MultisetStore.readAt(spark, multisets((db, name)), v)
        .createOrReplaceTempView(view)
      Regex.quoteReplacement(aliasedRef(view, name,
        Option(m.group(3)).getOrElse(""), Option(m.group(4))))
    })

  // `FROM t CHANGES BETWEEN v1 AND v2` — the change-data feed as a
  // relation: one row per net-changed tuple with its signed `__freq`
  // delta (MultisetStore.changes semantics — compaction-invisible)
  private val changesRe: Regex =
    """(?i)(?<![\w.`])([\w.`]+)\s+changes\s+between\s+(-?\d+)\s+and\s+(\d+)(\s+(?:as\s+)?([A-Za-z_]\w*))?""".r

  private def rewriteChanges(q: String): String =
    changesRe.replaceAllIn(q, m => {
      val raw = m.group(1)
      require(isMultiset(raw),
        s"CHANGES BETWEEN is only valid on multiset tables, got: $raw")
      val (db, name) = viewKeyOf(raw)
      val view = s"graft_ms_changes_${msAsOfCounter.incrementAndGet()}"
      graft.sources.MultisetStore.changes(spark, multisets((db, name)),
        m.group(2).toInt, m.group(3).toInt)
        .createOrReplaceTempView(view)
      Regex.quoteReplacement(aliasedRef(view, name,
        Option(m.group(4)).getOrElse(""), Option(m.group(5))))
    })

  // the reference's tables catalog stores sql_context — the database the
  // view was created under, restored when its text is re-resolved
  // (catalog/src/lib.rs tables_table schema; resolve_tables.rs). Stored
  // here as a header comment line above the raw dialect SQL.
  private val ctxHeader = "-- sql_context: "

  private def persistView(db: String, name: String, body: String): Unit = {
    java.nio.file.Files.createDirectories(viewDir)
    removeViewFiles(db, name)
    val seq = viewSeq.incrementAndGet()
    java.nio.file.Files.writeString(viewDir.resolve(f"${seq}%06d_$db.$name.sql"),
      s"$ctxHeader${spark.catalog.currentDatabase}\n$body")
  }

  private def removeViewFiles(db: String, name: String): Unit =
    if (java.nio.file.Files.isDirectory(viewDir)) {
      val qn = java.util.regex.Pattern.quote(name)
      val qdb = java.util.regex.Pattern.quote(db)
      val s = java.nio.file.Files.list(viewDir)
      // scoped form only: legacy flat-form files are migrated to the
      // scoped stem at replay, so a bare-name pattern (which could match
      // another database's same-named view) is never needed here
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(_.getFileName.toString.matches(s"\\d+_$qdb\\.$qn\\.sql"))
        .toVector.foreach(java.nio.file.Files.delete)
      finally s.close()
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

  private val showFunctionsRe = """(?is)^\s*show\s+functions\s*;?\s*$""".r
  private val showDatabasesRe = """(?is)^\s*show\s+databases\s*;?\s*$""".r
  private val showTablesRe = """(?is)^\s*show\s+tables\s*;?\s*$""".r
  private val useRe = """(?is)^\s*use\s+([\w`]+)\s*;?\s*$""".r
  private val createDbRe = """(?is)^\s*create\s+database\s+([\w`]+)\s*;?\s*$""".r
  private val dropDbRe =
    """(?is)^\s*drop\s+database\s+(if\s+exists\s+)?([\w`]+)(\s+cascade)?\s*;?\s*$""".r
  private val createTableRe = """(?is)^\s*create\s+table\s+([\w.`]+)\s*\((.*)\)\s*;?\s*$""".r
  private val createMultisetRe =
    """(?is)^\s*create\s+multiset\s+table\s+([\w.`]+)\s*\((.*)\)\s*;?\s*$""".r
  private val insertRe =
    """(?is)^\s*insert\s+into\s+([\w.`]+)\s*(?:\(([^)]*)\))?\s+((?:values|select)\s+.*)$""".r
  private val dropTableRe =
    """(?is)^\s*drop\s+table\s+(if\s+exists\s+)?([\w.`]+)\s*;?\s*$""".r
  // OR REPLACE / IF EXISTS variants are intercepted too: letting them
  // fall through to raw Spark would create a metastore view beside the
  // scoped catalog / drop only the bare temp view (which the namespace
  // sync would immediately resurrect)
  private val createViewRe =
    """(?is)^\s*create\s+(?:or\s+replace\s+)?view\s+([\w.`]+)\s+as\s+(.*)$""".r
  private val dropViewRe =
    """(?is)^\s*drop\s+view\s+(if\s+exists\s+)?([\w.`]+)\s*;?\s*$""".r
  private val compactRe = """(?is)^\s*compact\s+table\s+([\w.`]+)\s*;?\s*$""".r
  private val vacuumRe = """(?is)^\s*vacuum\s+table\s+([\w.`]+)\s*;?\s*$""".r
  private val explainRe = """(?is)^\s*explain\s+(.*)$""".r
  private val deleteRe =
    """(?is)^\s*delete\s+from\s+([\w.`]+)(?:\s+where\s+(.+?))?(?:\s+limit\s+(\d+))?\s*;?\s*$""".r
  private val updateRe =
    """(?is)^\s*update\s+([\w.`]+)\s+set\s+(.+?)(?:\s+where\s+(.+?))?\s*;?\s*$""".r
  private val mergeRe =
    """(?is)^\s*merge\s+into\s+([\w.`]+)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s+using\s+([\w.`]+|\(.+?\))(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s+on\s+(.+?)\s+(when\s+(?:not\s+)?matched\s+.+?)\s*;?\s*$""".r
  private val mergeMatchedRe =
    """(?is)when\s+matched\s+then\s+update\s+set\s+(.+?)(?=\s+when\s+not\s+matched|$)""".r
  private val mergeDeleteRe =
    """(?is)when\s+matched\s+then\s+delete\b""".r
  private val mergeNotMatchedRe =
    """(?is)when\s+not\s+matched\s+then\s+insert\s+(\*|\(([^)]*)\)\s*values\s*\((.*)\))\s*$""".r

  /** While the session database is `incresql`, the reference resolves
    * bare `tables` / `databases` to its system tables
    * (tests/views/mod.rs creates a view over unqualified `tables` under
    * `use incresql`). Mirrored by registering/refreshing bare temp views
    * inside that context and dropping them on leaving it. A user temp
    * view with those names is genuinely shadowed, not destroyed: its raw
    * view relation is stashed on entering the context and re-registered
    * on leaving it (ShadowedViewSpec pins the round-trip). */
  private var contextViewsActive = false
  private val contextViewNames = Seq("databases", "tables")
  private var shadowedUserViews =
    Map.empty[String, org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation]

  private def syncContextViews(): Unit =
    if (spark.catalog.currentDatabase == "incresql") {
      if (!contextViewsActive) {
        // entering the context: stash any pre-existing user temp view
        // with a system name so leaving can restore it verbatim
        val cat = spark.sessionState.catalog
        shadowedUserViews = contextViewNames
          .flatMap(n => cat.getRawTempView(n).map(n -> _)).toMap
      }
      refreshSystemView("databases")
      refreshSystemView("tables")
      spark.table("incresql_databases").createOrReplaceTempView("databases")
      spark.table("incresql_tables").createOrReplaceTempView("tables")
      contextViewsActive = true
    } else {
      if (contextViewsActive) {
        val cat = spark.sessionState.catalog
        contextViewNames.foreach { n =>
          shadowedUserViews.get(n) match {
            case Some(saved) => cat.createTempView(n, saved, overrideIfExists = true)
            case None => spark.catalog.dropTempView(n)
          }
        }
        shadowedUserViews = Map.empty
        contextViewsActive = false
      }
      // stored views may lazily reference the materialized system views
      // from any database context — keep them fresh per statement
      if (systemViewsMaterialized) {
        refreshSystemView("databases")
        refreshSystemView("tables")
      }
    }

  /** View bodies resolve LAZILY in Spark (temp views store the parsed
    * plan), so a bare `tables`/`databases` written under `use incresql`
    * must be qualified at CREATE VIEW time — the Spark realization of
    * the reference's resolve-with-sql_context pass
    * (resolve_tables.rs:35-58). The persisted text keeps the ORIGINAL
    * spelling plus the context header, so replay re-applies this. */
  private def contextQualify(body: String): String =
    if (spark.catalog.currentDatabase == "incresql")
      mapOutsideQuotes(body)(
        _.replaceAll("(?i)\\b(from|join)\\s+(tables|databases)\\b", "$1 incresql.$2"))
    else body

  /** Apply `f` to the stretches of `q` OUTSIDE quoted string literals,
    * leaving literal content byte-identical — so the regex rewrites below
    * can never fire on text like `SELECT 'incresql.tables'`. Same quote
    * discipline as findOpOutsideQuotes: '…' and "…" open literals,
    * backslash escapes inside them. A pattern can't span a literal (none
    * of the rewritten constructs may contain one), so per-segment
    * application is exact. */
  private def mapOutsideQuotes(q: String)(f: String => String): String = {
    val out = new StringBuilder
    var segStart = 0
    var i = 0
    var quote: Char = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (quote != 0) {
        if (c == quote) { out.append(q.substring(segStart, i + 1)); segStart = i + 1; quote = 0 }
        else if (c == '\\') i += 1
      } else if (c == '\'' || c == '"') {
        out.append(f(q.substring(segStart, i)))
        segStart = i
        quote = c
      }
      i += 1
    }
    out.append(
      if (quote != 0) q.substring(segStart) // unterminated literal: verbatim
      else f(q.substring(segStart)))
    out.toString
  }

  /** Execute a `;`-separated statement script (the paste-a-.sql-file path
    * a user migrating off the reference's mysql client expects), returning
    * the last statement's result. Splitting is quote-aware, so literals
    * containing `;` survive; empty statements (trailing `;`, blank lines)
    * are skipped. */
  def script(text: String): DataFrame = {
    var last: DataFrame = spark.emptyDataFrame
    var start = 0
    var i = 0
    var quote: Char = 0
    def runSegment(upTo: Int): Unit = {
      val stmt = text.substring(start, upTo).trim
      if (stmt.nonEmpty) last = sql(stmt)
      start = upTo + 1
    }
    while (i < text.length) {
      val c = text.charAt(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        else if (c == '\\') i += 1
      } else if (c == '\'' || c == '"') quote = c
      else if (c == ';') runSegment(i)
      i += 1
    }
    runSegment(text.length)
    last
  }

  def sql(text: String): DataFrame = {
    syncContextViews()
    syncViewNamespace()
    syncMultisetViews()
    val dbBefore = spark.catalog.currentDatabase
    val out = dispatch(text)
    // a USE statement changes the resolution context mid-statement: sync
    // again immediately so the bare context views never linger outside
    // incresql (where a user could unknowingly overwrite them) and are
    // restored/dropped the moment the context is left
    if (spark.catalog.currentDatabase != dbBefore) syncContextViews()
    // CREATE/DROP VIEW (and USE) change which bare names are visible;
    // re-sync so a dropped view's bare name never dangles to the next
    // statement
    syncViewNamespace()
    out
  }

  private def dispatch(text: String): DataFrame = text match {
    case showFunctionsRe() =>
      import spark.implicits._
      val names = spark.sessionState.functionRegistry.listFunction()
        .map(_.funcName).distinct.sorted
      names.toDF("function_name")
    case showDatabasesRe() =>
      spark.sql("SHOW DATABASES").select(col("namespace").as("database"))
    case showTablesRe() =>
      // the reference lists the CURRENT database's catalog entries only
      // (tests/show/tables.rs: empty under default, the three system
      // tables under incresql) — sourced from the same system view as
      // incresql.tables, so plumbing temp views never leak in
      refreshSystemView("tables")
      spark.table("incresql_tables")
        .filter(col("database_name") === spark.catalog.currentDatabase)
        .select(col("name").as("table")).orderBy(col("table"))
    case useRe(db) => spark.sql(s"USE $db")
    case createDbRe(db) => spark.sql(s"CREATE DATABASE $db")
    case dropDbRe(ifExists, db, cascade) =>
      // the reference refuses to drop a non-empty database
      // (catalog/src/lib.rs:146-148 check_db_empty); Spark enforces that
      // for tables, and scoped views count as contents too. CASCADE (a
      // Spark extension) instead drops the database's views with it —
      // registry, mangled temp views, and catalog files included, so no
      // ghost view replays into a later session.
      val d = stripTicks(db).toLowerCase
      val owned = viewRegistry.keys.filter(_._1 == d).toSeq
      if (cascade == null)
        require(owned.isEmpty, s"database $d is not empty: it still contains views")
      else owned.foreach { case (vdb, vname) =>
        removeViewFiles(vdb, vname)
        spark.sql(s"DROP VIEW IF EXISTS ${viewRegistry((vdb, vname)).mangled}")
        viewRegistry -= ((vdb, vname))
        viewEpoch += 1
      }
      spark.sql(s"DROP DATABASE ${Option(ifExists).getOrElse("")} $db " +
        Option(cascade).getOrElse(""))
    case createMultisetRe(name, cols) =>
      val mapped = splitTopLevel(cols).map { colDef =>
        val parts = colDef.trim.split("\\s+", 2)
        s"${parts(0)} ${mapType(parts.lift(1).getOrElse("STRING"))}"
      }.mkString(", ")
      val (db, bare) = viewKeyOf(name)
      require(!multisets.contains((db, bare)), s"multiset table $db.$bare already exists")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(mapped)
      val path = msDir.resolve(s"$db.$bare").toString
      // v0 = an empty snapshot carrying the schema (+ __freq), so the
      // table is queryable before its first insert
      graft.sources.MultisetStore.append(spark, path,
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      multisets += ((db, bare) -> path)
      syncMultisetViews()
      spark.emptyDataFrame
    case createTableRe(name, cols) =>
      val mapped = splitTopLevel(cols).map { colDef =>
        val parts = colDef.trim.split("\\s+", 2)
        s"${parts(0)} ${mapType(parts.lift(1).getOrElse("STRING"))}"
      }.mkString(", ")
      spark.sql(s"CREATE TABLE $name ($mapped) USING PARQUET")
    case dropTableRe(_, name) if isMultiset(name) =>
      val (db, bare) = viewKeyOf(name)
      val path = java.nio.file.Paths.get(multisets((db, bare)))
      multisets -= ((db, bare))
      spark.catalog.dropTempView(msMangled(db, bare))
      if (bareMsNames.contains(bare)) { spark.catalog.dropTempView(bare); bareMsNames -= bare }
      graft.sources.MultisetStore.deleteRecursively(path) // the chain
      spark.emptyDataFrame
    case dropTableRe(ifExists, name) =>
      spark.sql(s"DROP TABLE ${Option(ifExists).getOrElse("")}$name")
    case insertRe(name, colList, source) if isMultiset(name) =>
      multisetInsert(name, Option(colList), source)
    case createViewRe(name, body) =>
      // `create view db.name` owns the view to db; bare names own to the
      // current database (tests/views/mod.rs creates default.test_view
      // from inside incresql). The body resolves under the CURRENT
      // database — the view's sql_context — regardless of the owner.
      val (db, bare) = viewKeyOf(name)
      val meta = ViewMeta(db, bare, body.trim.stripSuffix(";").trim,
        spark.catalog.currentDatabase)
      val df = spark.sql(s"CREATE OR REPLACE TEMP VIEW ${meta.mangled} AS " +
        rewriteQuery(contextQualify(meta.body)))
      viewRegistry += ((db, bare) -> meta)
      viewEpoch += 1
      persistView(db, bare, meta.body)
      df
    case dropViewRe(ifExists, name) =>
      val (db, bare) = viewKeyOf(name)
      viewRegistry.get((db, bare)) match {
        case Some(m) =>
          removeViewFiles(db, bare)
          viewRegistry -= ((db, bare))
          viewEpoch += 1
          spark.sql(s"DROP VIEW ${m.mangled}")
        case None =>
          // not one of ours: fall through to a plain Spark temp view
          // (honoring IF EXISTS as a silent no-op on an unknown name)
          val ie = if (ifExists == null) "" else "IF EXISTS "
          spark.sql(s"DROP VIEW $ie${stripTicks(name).split('.').last}")
      }
    case vacuumRe(name) if isMultiset(name) =>
      // drop versions older than the latest snapshot — ends time travel
      // into them, reclaims the chain (compact keeps history; vacuum is
      // the explicit retention cut)
      graft.sources.MultisetStore.vacuum(msPath(name))
      spark.emptyDataFrame
    case compactRe(name) if isMultiset(name) =>
      // the real thing for multiset tables: fold the snapshot+delta chain
      // into one fresh snapshot (older versions stay for AS OF readers)
      graft.sources.MultisetStore.compact(spark, msPath(name))
      spark.emptyDataFrame
    case compactRe(name) =>
      // Parquet/Spark analog of RocksDB compaction (connection.rs:113-126):
      // refresh + recompute stats so subsequent plans see the table fresh.
      spark.catalog.refreshTable(name)
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    case deleteRe(table, whereOpt, limitOpt) if isMultiset(table) =>
      multisetDelete(table, Option(whereOpt), Option(limitOpt).map(_.toInt))
    case deleteRe(table, whereOpt, limitOpt) =>
      delete(table, Option(whereOpt), Option(limitOpt).map(_.toInt))
    case updateRe(table, setList, whereOpt) =>
      update(table, setList, Option(whereOpt))
    case mergeRe(table, tAlias, source, sAlias, onCond, whenClauses) =>
      merge(table, Option(tAlias), source, Option(sAlias), onCond, whenClauses)
    case explainRe(body) if body.matches("(?is)^formatted\\s+.*") =>
      // EXPLAIN FORMATTED: Spark's physical plan, for auditing pushdown /
      // broadcast / codegen — the Catalyst-native view.
      import spark.implicits._
      val q = body.replaceFirst("(?is)^formatted\\s+", "")
      val plan = spark.sql(rewriteQuery(q)).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      plan.split("\n").toSeq.toDF("plan")
    case explainRe(body) =>
      // Reference-format EXPLAIN: the 4-column tree/col_idx/datatype/
      // expression values table (explain/mod.rs:38-80), golden-tested in
      // ExplainGoldenSpec against the reference's own expected output.
      RefExplain.explain(spark, spark.sql(rewriteQuery(body)))
    case other => spark.sql(rewriteQuery(other))
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
  private def delete(table: String, where: Option[String], limit: Option[Int]): DataFrame = {
    val df = spark.table(table)
    val pred = where.map(w => expr(rewriteQuery(w))).getOrElse(lit(true))
    val remaining = limit match {
      case None =>
        df.filter(!coalesce(pred, lit(false)))
      case Some(n) =>
        val staged = df.withColumn("__rid", monotonically_increasing_id())
        val doomed = staged.filter(coalesce(pred, lit(false)))
          .orderBy(col("__rid")).limit(n).select(col("__rid").as("__doomed"))
        staged.join(doomed, col("__rid") === col("__doomed"), "left_anti")
          .drop("__rid")
    }
    // Stage through a temp path so the overwrite never reads its target.
    val tmp = java.nio.file.Files.createTempDirectory("graft_delete_").toString
    remaining.write.mode("overwrite").parquet(tmp)
    graft.sources.StoredParquet.read(spark, tmp).write.mode("overwrite").insertInto(table)
    spark.emptyDataFrame
  }

  /** INSERT INTO a multiset table: the reference's TableInsert — +1 freq
    * per source row, persisted as an O(|delta|) LSM delta append
    * (table_insert.rs:22-55 over storage/src/table.rs:309-347). Source is
    * either `VALUES (...)...` or any SELECT (both through the dialect
    * rewriter); an optional column list maps source columns positionally,
    * unlisted columns are NULL. Values cast to the declared column types
    * (non-ANSI: unparseable → NULL, the reference's cast semantics). */
  private def multisetInsert(table: String, colList: Option[String],
      source: String): DataFrame = {
    // the columns and types of the view syncMultisetViews registered at
    // the start of this statement — no second read plan over the chain
    val (db, name) = viewKeyOf(table)
    val current = spark.table(msMangled(db, name))
    val dataCols = current.columns.toIndexedSeq
    val srcSql =
      if (source.trim.toLowerCase.startsWith("values")) s"SELECT * FROM ($source)"
      else source
    val src = spark.sql(rewriteQuery(srcSql))
    val listed = colList match {
      case Some(cs) => cs.split(',').map(c => stripTicks(c.trim).toLowerCase).toIndexedSeq
      case None => dataCols.map(_.toLowerCase)
    }
    require(src.columns.length == listed.length,
      s"INSERT column count ${listed.length} != source arity ${src.columns.length}")
    listed.foreach(c => require(dataCols.exists(_.toLowerCase == c),
      s"INSERT target column $c not in $table"))
    val byName = src.columns.zip(listed).map { case (s, t) => (t, col(s)) }.toMap
    val aligned = src.select(dataCols.map { c =>
      byName.get(c.toLowerCase) match {
        case Some(e) => e.cast(current.schema(c).dataType).as(c)
        case None => lit(null).cast(current.schema(c).dataType).as(c)
      }
    }: _*)
    graft.sources.MultisetStore.appendDelta(spark, msPath(table), aligned)
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
    * Rows where the predicate is NULL stay, per 3VL filter semantics. */
  private def multisetDelete(table: String, where: Option[String],
      limit: Option[Int]): DataFrame = {
    val path = msPath(table)
    val bare = viewKeyOf(table)._2
    val pred = where.map(w => expr(rewriteQuery(w))).getOrElse(lit(true))
    val freqCol = graft.sources.MultisetStore.freqCol
    limit match {
      case None =>
        val doomed = graft.sources.MultisetStore.snapshot(spark, path)
          .alias(bare) // so qualified refs like `t1.b` resolve, as in the reference test
          .filter(coalesce(pred, lit(false)))
          .withColumn(freqCol, -col(freqCol))
        graft.sources.MultisetStore.appendDelta(spark, path, doomed)
      case Some(n) =>
        val doomed = graft.sources.MultisetStore.read(spark, path)
          .alias(bare)
          .filter(coalesce(pred, lit(false)))
          .limit(n)
        graft.sources.MultisetStore.appendDelta(spark, path, doomed, freq = -1L)
    }
    spark.emptyDataFrame
  }

  /** UPDATE t SET c = e[, ...] [WHERE p] — a Spark-native DML extension
    * (the reference's statement surface stops at INSERT/DELETE,
    * connection.rs:35-136). Planned as the same whole-table rewrite shape
    * as [[delete]]: one projection where each assigned column becomes
    * `CASE WHEN coalesce(p, false) THEN expr ELSE col END` — rows where
    * the predicate is NULL keep their values, per ANSI — staged through a
    * temp path so the overwrite never reads its target. Assignment
    * expressions go through the dialect rewriter, so `->`/`->>` etc. work
    * on the right-hand side.
    */
  private def update(table: String, setList: String, where: Option[String]): DataFrame = {
    val df = spark.table(table)
    val pred = where.map(w => expr(rewriteQuery(w))).getOrElse(lit(true))
    val assignments = splitTopLevel(setList).map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"malformed SET assignment: $a")
      val target = stripTicks(a.substring(0, eq).trim).toLowerCase
      (target, expr(rewriteQuery(a.substring(eq + 1).trim)))
    }.toMap
    val resolved = df.columns.map(_.toLowerCase).toSet
    assignments.keys.foreach(k =>
      require(resolved.contains(k), s"UPDATE target column $k not in $table"))
    val projected = df.select(df.columns.toIndexedSeq.map { c =>
      assignments.get(c.toLowerCase) match {
        case Some(e) => when(coalesce(pred, lit(false)), e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    val tmp = java.nio.file.Files.createTempDirectory("graft_update_").toString
    projected.write.mode("overwrite").parquet(tmp)
    graft.sources.StoredParquet.read(spark, tmp).write.mode("overwrite").insertInto(table)
    spark.emptyDataFrame
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
    * Supported source forms: a table/view name, or a parenthesized
    * subquery without nested parens (register a view for anything deeper).
    * Update/insert expressions may reference both aliases; they pass
    * through the dialect rewriter, so `->`/`->>` work here too.
    */
  private def merge(table: String, tAliasOpt: Option[String], source: String,
      sAliasOpt: Option[String], onCond: String, whenClauses: String): DataFrame = {
    // ANSI lets unaliased relations be referenced by their bare name
    val tA = tAliasOpt.getOrElse(stripTicks(table).split('.').last)
    require(sAliasOpt.nonEmpty || !source.startsWith("("),
      "a MERGE subquery source needs an alias")
    val sA = sAliasOpt.getOrElse(stripTicks(source).split('.').last)
    val tgt = spark.table(table).alias(tA)
    val srcDf = (if (source.startsWith("(")) spark.sql(rewriteQuery(
        source.stripPrefix("(").stripSuffix(")")))
      else spark.table(source)).alias(sA)
    val cond = expr(rewriteQuery(onCond))

    val updateSet: Map[String, org.apache.spark.sql.Column] =
      mergeMatchedRe.findFirstMatchIn(whenClauses).map { m =>
        splitTopLevel(m.group(1)).map { a =>
          val eq = a.indexOf('=')
          require(eq > 0, s"malformed MERGE SET assignment: $a")
          val target = stripTicks(a.substring(0, eq).trim).split('.').last.toLowerCase
          (target, expr(rewriteQuery(a.substring(eq + 1).trim)))
        }.toMap
      }.getOrElse(Map.empty)
    val deleteMatched = mergeDeleteRe.findFirstIn(whenClauses).nonEmpty
    require(!(deleteMatched && updateSet.nonEmpty),
      "MERGE supports WHEN MATCHED THEN UPDATE or THEN DELETE, not both")
    val insertSpec = mergeNotMatchedRe.findFirstMatchIn(whenClauses)
    require(updateSet.nonEmpty || deleteMatched || insertSpec.nonEmpty,
      "MERGE needs at least one WHEN MATCHED / WHEN NOT MATCHED clause")
    val targetCols = spark.table(table).columns.toIndexedSeq
    updateSet.keys.foreach(k => require(targetCols.exists(_.toLowerCase == k),
      s"MERGE update target column $k not in $table"))

    // ANSI: each target row may match at most one source row
    val joined = tgt.join(srcDf, cond, "left_outer")
    val tgtCount = spark.table(table).count()
    require(joined.count() == tgtCount,
      s"MERGE source matches multiple rows of $table for some target row")

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

    val inserted = insertSpec.map { m =>
      val anti = srcDf.join(tgt, cond, "left_anti")
      if (m.group(1).trim == "*") {
        val srcCols = anti.columns.map(_.toLowerCase).toSet
        anti.select(targetCols.map { c =>
          if (srcCols.contains(c.toLowerCase)) col(c).as(c)
          else lit(null).cast(spark.table(table).schema(c).dataType).as(c)
        }: _*)
      } else {
        val cols = m.group(2).split(',').map(c => stripTicks(c.trim).toLowerCase)
        val exprs = splitTopLevel(m.group(3)).map(e => expr(rewriteQuery(e.trim)))
        require(cols.length == exprs.length,
          "MERGE INSERT column list and VALUES arity differ")
        val byCol = cols.zip(exprs).toMap
        anti.select(targetCols.map { c =>
          byCol.get(c.toLowerCase) match {
            case Some(e) => e.cast(spark.table(table).schema(c).dataType).as(c)
            case None => lit(null).cast(spark.table(table).schema(c).dataType).as(c)
          }
        }: _*)
      }
    }
    val result = inserted.map(keptUpdated.unionByName(_)).getOrElse(keptUpdated)
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_").toString
    result.write.mode("overwrite").parquet(tmp)
    graft.sources.StoredParquet.read(spark, tmp).write.mode("overwrite").insertInto(table)
    spark.emptyDataFrame
  }

  /** Split "a INT, b DECIMAL(10,2)" (or an UPDATE SET list) on top-level
    * commas only — parens AND quoted literals (`SET x = 'a,b'`) are
    * opaque. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        else if (c == '\\') i += 1
      } else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result().filter(_.trim.nonEmpty)
  }

  // --- system catalog tables ---------------------------------------------
  // The reference bootstraps queryable catalog tables (catalog/src/
  // bootstrap.rs:22-66): incresql.databases (name TEXT) and
  // incresql.tables (database_name, name, type, sql, sql_context,
  // table_id, columns, system) — its own tests SELECT from them
  // (tests/building_blocks/tables.rs, tests/create/table.rs). Spark temp
  // views can't be database-qualified, so references to them are
  // rewritten to session views re-materialized from the live Spark
  // catalog at query time; the table keeps its reference default alias
  // (`databases`) unless the query supplies its own, so qualified columns
  // like `databases.name` resolve as they do there.

  import GraftSession.{SysDbRow, SysTableRow}

  private var systemViewsMaterialized = false

  private def refreshSystemView(which: String): Unit = {
    import spark.implicits._
    systemViewsMaterialized = true
    which match {
      case "databases" =>
        // bootstrap databases exist even before any user DDL
        val names = (spark.catalog.listDatabases().collect().map(_.name).toSeq ++
          Seq("incresql", "information_schema")).distinct.sorted
        // case-class encoder, not toDF("name"): the rename would wrap the
        // local relation in a Project and break TABLE rendering in EXPLAIN
        names.map(SysDbRow).toDF().createOrReplaceTempView("incresql_databases")
      case "tables" =>
        val user = spark.catalog.listDatabases().collect().flatMap { db =>
          spark.catalog.listTables(db.name).collect()
        }
          .filterNot(t => t.name.startsWith("incresql_") || t.name.startsWith("graft_dir_") ||
            t.name.startsWith("graft_view_"))
          // the bare `databases`/`tables` context temp views are resolver
          // plumbing, not catalog content — while active they must not
          // surface as spurious ('default', ..., 'view') rows the
          // reference catalog never contains
          .filterNot(t => contextViewsActive && t.isTemporary &&
            contextViewNames.contains(t.name))
          // bare temp views for the current database's scoped views are
          // resolver plumbing too — the view lists once, under its
          // owning database, via the registry rows below
          .filterNot(t => t.isTemporary && bareViewNames.contains(t.name))
          // multiset plumbing views likewise: the table lists once,
          // under its owning database, via the multiset rows below
          .filterNot(t => t.isTemporary &&
            (t.name.startsWith("graft_ms_") || bareMsNames.contains(t.name)))
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
          .toSeq.toDF().createOrReplaceTempView("incresql_tables")
    }
  }

  private val sysTableRe: Regex =
    """(?i)\bincresql\.(databases|tables)\b(\s+(?:as\s+)?([A-Za-z_]\w*))?""".r
  // words that can follow a table reference without being its alias —
  // includes every join/sample/clause keyword Spark accepts there
  // (`FROM incresql.tables NATURAL JOIN x` must not treat `natural` as
  // the alias and drop the default `tables` alias)
  private val notAliases = Set(
    "where", "group", "order", "limit", "having", "union", "intersect",
    "except", "join", "inner", "left", "right", "full", "cross", "on", "using",
    "natural", "lateral", "tablesample", "sort", "cluster", "distribute",
    "window", "anti", "semi", "pivot", "unpivot", "offset", "values")

  /** Rewritten table reference keeping the reference's default alias
    * (`defaultAlias`) unless the query supplies its own. TABLESAMPLE is
    * the one relation suffix Spark's grammar places BEFORE the alias, so
    * `AS t` can't be inserted there without parsing past the sample
    * clause — emit unaliased (qualified default-alias columns don't
    * combine with TABLESAMPLE). */
  private def aliasedRef(target: String, defaultAlias: String,
      rest: String, alias: Option[String]): String =
    alias match {
      case Some(a) if a.toLowerCase == "tablesample" => s"$target$rest"
      case Some(a) if !notAliases.contains(a.toLowerCase) => s"$target$rest"
      case _ => s"$target AS $defaultAlias$rest"
    }

  private def rewriteSystemTables(q: String): String =
    sysTableRe.replaceAllIn(q, m => {
      val t = m.group(1).toLowerCase
      refreshSystemView(t)
      Regex.quoteReplacement(aliasedRef(s"incresql_$t", t,
        Option(m.group(2)).getOrElse(""), Option(m.group(3))))
    })

  /** Map database-scoped view references onto their mangled session temp
    * views, the reference's resolve_tables.rs:35-58 scoping:
    *
    *   - a QUALIFIED `db.name` (resolvable from anywhere) is rewritten
    *     textually — Spark would otherwise look for a metastore table;
    *   - a BARE `name` resolves through a real bare temp view that
    *     syncViewNamespace registers while the owning database is
    *     current (so every syntactic position Spark allows — comma
    *     cross-join lists included — resolves, with no text surgery),
    *     PLUS the FROM/JOIN rewrite below. The rewrite looks redundant
    *     interactively but is load-bearing inside CREATE VIEW bodies:
    *     temp-view text re-resolves lazily per query, when the session
    *     may sit in a different database, so view→view references must
    *     be pinned to the mangled (global) name at creation time.
    */
  private def rewriteViewRefs(q: String): String = {
    val cur = spark.catalog.currentDatabase
    var out = q
    viewRegistry.values.foreach { m =>
      out = m.qualifiedRe.replaceAllIn(out, mm => Regex.quoteReplacement(
        aliasedRef(m.mangled, m.name, Option(mm.group(1)).getOrElse(""),
          Option(mm.group(2)))))
      // `db.name.col` column qualifiers collapse to the default alias
      // (`name.col`), since the relation itself is aliased back to the
      // bare name. Text-level caveat (inherent to the pre-rewriter
      // design): a table alias that equals a registered view's database
      // with a struct column named like the view would be rewritten too.
      out = m.qualifiedColRe.replaceAllIn(out, _ => Regex.quoteReplacement(m.name))
      if (m.db == cur) {
        out = m.bareRe.replaceAllIn(out, mm => Regex.quoteReplacement(
          mm.group(1) + " " + aliasedRef(m.mangled, m.name,
            Option(mm.group(2)).getOrElse(""), Option(mm.group(3)))))
      }
    }
    out
  }

  // bare temp views currently registered for the session database's
  // scoped views, plus any unrelated user temp views they shadow
  private var bareViewNames = Set.empty[String]
  private var bareShadowed =
    Map.empty[String, org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation]
  // registry mutation counter + last-synced (epoch, database): the sync
  // is a no-op unless a view was created/dropped/replaced or the session
  // database moved — per-statement cost is two comparisons, not O(views)
  private var viewEpoch = 0L
  private var bareSyncedAt: (Long, String) = (-1L, "")

  /** Keep a bare temp view per scoped view of the CURRENT database, so
    * unqualified references resolve natively; drop (restoring anything
    * shadowed) when the database or the registry changes. Re-registered
    * after any registry mutation so CREATE OR REPLACE definitions take
    * effect. */
  private def syncViewNamespace(): Unit = {
    val cat = spark.sessionState.catalog
    val cur = spark.catalog.currentDatabase
    if (bareSyncedAt == ((viewEpoch, cur))) return
    val want = viewRegistry.collect { case ((db, n), _) if db == cur => n }.toSet
    (bareViewNames -- want).foreach { n =>
      bareShadowed.get(n) match {
        case Some(saved) => cat.createTempView(n, saved, overrideIfExists = true)
        case None => spark.catalog.dropTempView(n)
      }
      bareShadowed -= n
    }
    (want -- bareViewNames).foreach { n =>
      cat.getRawTempView(n).foreach(v => bareShadowed += (n -> v))
    }
    want.foreach { n =>
      spark.table(viewRegistry((cur, n)).mangled).createOrReplaceTempView(n)
    }
    bareViewNames = want
    bareSyncedAt = (viewEpoch, cur)
  }

  // --- query dialect rewriting -------------------------------------------

  private val directoryRe: Regex =
    """(?is)\bdirectory\s+"([^"]+)"(?:\s+with\s*\(\s*delimiter\s*=\s*"([^"]*)"\s*\))?""".r
  private val limitOffsetRe: Regex =
    """(?i)\blimit\s+(\d+)\s*,\s*(\d+)""".r

  private[sql] def rewriteQuery(q: String): String = {
    var out = q
    // Text-level rewrites run only OUTSIDE string literals, so
    // `SELECT 'incresql.tables'` / `'database()'` stay untouched.
    out = mapOutsideQuotes(out) { seg =>
      // multiset time travel / CDF FIRST: `t AS OF VERSION n` and
      // `t CHANGES BETWEEN a AND b` must resolve before any pass could
      // mistake their keywords for aliases
      var s = rewriteAsOf(seg)
      s = rewriteChanges(s)
      // incresql.databases / incresql.tables system catalog tables
      s = rewriteSystemTables(s)
      // database-scoped view references → mangled session temp views
      s = rewriteViewRefs(s)
      // qualified multiset table references → mangled session temp views
      s = rewriteMultisetRefs(s)
      // MySQL @@ magic variables → constants
      // (p1_validation/sub_in_special_vars.rs:7-32)
      s = s.replaceAll("(?i)@@max_allowed_packet", "16777215")
      s = s.replaceAll("(?i)@@socket", "''")
      // database() → Spark's current_database()
      s = s.replaceAll("(?i)\\bdatabase\\s*\\(\\s*\\)", "current_database()")
      s
    }
    // FROM DIRECTORY "path" WITH(delimiter=",") → registered temp view
    // (runs on the raw text: the path IS a double-quoted literal)
    out = directoryRe.replaceAllIn(out, m => {
      val path = m.group(1)
      val delim = Option(m.group(2)).getOrElse(",")
      val view = s"graft_dir_${dirCounter.incrementAndGet()}"
      val raw = spark.read
        .option("recursiveFileLookup", "true")
        .option("delimiter", delim)
        .option("inferSchema", "false")
        .csv(path)
      val cols = raw.columns.toIndexedSeq.map(col)
      raw.select(to_json(array(cols.map(_.cast("string")): _*)).as("data"))
        .createOrReplaceTempView(view)
      Regex.quoteReplacement(view)
    })
    // LIMIT off,n → LIMIT n OFFSET off
    out = mapOutsideQuotes(out)(limitOffsetRe.replaceAllIn(_,
      m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}"))
    // QUALIFY clause → select-list predicate + one-level-out filter
    out = GraftSession.rewriteQualify(out)
    // -> / ->> json operators
    out = rewriteJsonOps(out)
    out
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

  /** Index of the first `->` / `->>` not inside a quoted literal; -1 if none.
    * The scan runs front-to-back tracking quote state, so an operator whose
    * LEFT OPERAND is itself a string literal is still found (the literal
    * closes before the operator starts). */
  private def findOpOutsideQuotes(s: String): Int = {
    var i = 0
    var quote: Char = 0
    while (i < s.length - 1) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        else if (c == '\\') i += 1 // skip escaped char inside literal
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '-' && s.charAt(i + 1) == '>') return i
      i += 1
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

  // last statements of the constructor: every val above is initialized.
  // Multiset views first — persisted views may reference multiset tables.
  syncMultisetViews()
  replayPersistedViews()
}
