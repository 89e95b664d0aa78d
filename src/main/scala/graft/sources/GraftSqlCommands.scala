package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** SQL-level administration of the snapshot-table format — the
  * maintenance verbs a pure-SQL user (or a scheduled SQL job runner)
  * needs, injected as a DELEGATING parser via
  * [[graft.functions.GraftExtensions]] (`spark.sql.extensions=...`):
  *
  *   GRAFT RESTORE '/path/tbl' VERSION AS OF 3
  *   GRAFT CLONE '/path/src' TO '/path/dst' [VERSION AS OF 2]
  *   GRAFT VACUUM '/path/tbl' KEEP 5
  *
  * Anything else falls through to Spark's own parser untouched. Each
  * verb plans as a `LeafRunnableCommand` — driver-side metadata work
  * (these ops are O(manifest) by design), executed at `sql()` call
  * time like every Spark DDL command, returning its result as a row. */
class GraftSqlParser(delegate: ParserInterface,
    session: Option[SparkSession] = None) extends ParserInterface {

  /** The zone wall-clock `TIMESTAMP AS OF` literals resolve in: the
    * embedding session's `spark.sql.session.timeZone` (Delta's
    * session-zone resolution), read at PARSE time so a `SET` in the
    * same session takes effect immediately; UTC when the parser runs
    * without a session (direct construction in tests). */
  private def sessionZone: java.time.ZoneId =
    session
      .map(s => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .getZoneId(s.conf.get("spark.sql.session.timeZone")))
      .getOrElse(java.time.ZoneOffset.UTC)

  // the AS OF clause of the verbs that address a version: a version
  // number, or a wall-clock stamp (Delta's TIMESTAMP AS OF) resolved
  // against the manifests' commit stamps when the command runs
  private val AsOfClause =
    """(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')"""
  private val RestoreRe =
    ("""(?is)\s*GRAFT\s+RESTORE\s+'([^']+)'""" + AsOfClause + """\s*;?\s*""").r
  private val CloneRe =
    ("""(?is)\s*GRAFT\s+CLONE\s+'([^']+)'\s+TO\s+'([^']+)'""" + AsOfClause +
      """?\s*;?\s*""").r
  private val VacuumRe =
    ("""(?is)\s*GRAFT\s+VACUUM\s+'([^']+)'\s+KEEP\s+(\d+)""" +
      """(?:\s+MIN\s+AGE\s+(\d+))?(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val AbsorbRe =
    """(?is)\s*GRAFT\s+ABSORB\s+DELETES\s+'([^']+)'\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*GRAFT\s+HISTORY\s+'([^']+)'\s*;?\s*""".r
  // change feed: FROM <v> [TO <v>] — resolves to the readChanges
  // DataFrame's own plan (a real distributed query, not a driver-side
  // row list: the feed can be table-sized)
  private val ChangesRe =
    ("""(?is)\s*GRAFT\s+CHANGES\s+'([^']+)'\s+FROM\s+(\d+)""" +
      """(?:\s+TO\s+(\d+))?(\s+TILED)?\s*;?\s*""").r
  private val OptimizeRe =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'(?:\s+SMALL\s+(\d+)\s+TARGET\s+(\d+))?\s*;?\s*""".r
  private val OptimizeBucketsRe =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+BUCKETS\s*;?\s*""".r
  // dotted tokens address struct LEAVES (meta.k) — the same dotted
  // grammar GRAFT BLOOM takes, composing clustering with the
  // nested-field zone maps
  private val OptimizeZorderRe =
    ("""(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+ZORDER\s+BY\s*\(\s*""" +
      """([A-Za-z_][A-Za-z0-9_.]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_.]*){1,3})\s*\)""" +
      """(?:\s+FILES\s+(\d+))?\s*;?\s*""").r
  private val StatsRe =
    ("""(?is)\s*GRAFT\s+STATS\s+'([^']+)'""" + AsOfClause + """?\s*;?\s*""").r
  // declared map-key zone maps: the FULL desired set of col['key']
  // items (empty parens clear every declaration)
  private val StatsKeysRe =
    ("""(?is)\s*GRAFT\s+STATS\s+KEYS\s+'([^']+)'\s*""" +
      """\(\s*([A-Za-z_][A-Za-z0-9_]*\['[^'\]]+'\]""" +
      """(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*\['[^'\]]+'\])*)?\s*\)\s*;?\s*""").r
  private val StatsKeyItemRe = """[A-Za-z_][A-Za-z0-9_]*\['[^'\]]+'\]""".r
  // write-audit-publish branches
  private val BranchCreateRe =
    ("""(?is)\s*GRAFT\s+BRANCH\s+'([^']+)'\s+CREATE\s+([A-Za-z0-9_\-]+)""" +
      """(?:\s+AS\s+OF\s+(\d+))?\s*;?\s*""").r
  private val BranchDropRe =
    ("""(?is)\s*GRAFT\s+BRANCH\s+'([^']+)'\s+DROP\s+([A-Za-z0-9_\-]+)\s*;?\s*""".r)
  private val BranchListRe =
    ("""(?is)\s*GRAFT\s+BRANCH\s+'([^']+)'\s+LIST\s*;?\s*""".r)
  private val PublishRe =
    ("""(?is)\s*GRAFT\s+PUBLISH\s+'([^']+)'\s+([A-Za-z0-9_\-]+)\s*;?\s*""".r)
  // immutable named snapshot pins (reproducibility tags)
  private val TagCreateRe =
    ("""(?is)\s*GRAFT\s+TAG\s+'([^']+)'\s+CREATE\s+([A-Za-z0-9_\-]+)""" +
      """(?:\s+AS\s+OF\s+(\d+))?\s*;?\s*""").r
  private val TagDropRe =
    ("""(?is)\s*GRAFT\s+TAG\s+'([^']+)'\s+DROP\s+([A-Za-z0-9_\-]+)\s*;?\s*""".r)
  private val TagListRe =
    ("""(?is)\s*GRAFT\s+TAG\s+'([^']+)'\s+LIST\s*;?\s*""".r)
  // durable-cursor incremental consumption, SQL edition; the optional
  // KEY turns the blind append into a keyed CDC apply (upsert + delete)
  private val FollowRe =
    ("""(?is)\s*GRAFT\s+FOLLOW\s+'([^']+)'\s+CURSOR\s+'([^']+)'""" +
      """\s+INTO\s+'([^']+)'""" +
      """(?:\s+KEY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?\s*;?\s*""").r
  // partition evolution: new scheme for FUTURE commits, old files stay
  // readable under their own era (empty parens = evolve back to flat)
  private val RepartitionRe =
    ("""(?is)\s*GRAFT\s+REPARTITION\s+'([^']+)'\s+BY\s*""" +
      """\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)?\s*\)\s*;?\s*""").r
  private val DescribeStatsRe =
    ("""(?is)\s*GRAFT\s+DESCRIBE\s+STATS\s+'([^']+)'""" + AsOfClause +
      """?\s*;?\s*""").r
  private val AnalyzeRe =
    """(?is)\s*GRAFT\s+ANALYZE\s+'([^']+)'\s*;?\s*""".r
  private val DescribeRe =
    """(?is)\s*GRAFT\s+DESCRIBE\s+'([^']+)'\s*;?\s*""".r
  private val ChecksRe =
    """(?is)\s*GRAFT\s+CHECKS\s+'([^']+)'\s*;?\s*""".r
  // DML doorway: the two row-changing verbs, delegating to the same
  // serializable merge/deleteWhere the Scala API uses. The USING /
  // DELETE payloads are full subqueries parsed BY THE DELEGATE at
  // execution (any SELECT Spark accepts); the greedy captures resolve
  // nested `ON`/parens by anchoring on the LAST `) ON <ident>` — a
  // single-statement grammar, like every GRAFT verb.
  private val MergeDelRe =
    ("""(?is)\s*GRAFT\s+MERGE\s+INTO\s+'([^']+)'\s+USING\s*\((.+)\)\s+""" +
      """ON\s+([A-Za-z_][A-Za-z0-9_]*)\s+DELETE\s*\((.+)\)\s*;?\s*""").r
  private val MergeRe =
    ("""(?is)\s*GRAFT\s+MERGE\s+INTO\s+'([^']+)'\s+USING\s*\((.+)\)\s+""" +
      """ON\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""").r
  private val DeleteRe =
    """(?is)\s*GRAFT\s+DELETE\s+FROM\s+'([^']+)'\s+WHERE\s+(.+?)\s*;?\s*""".r
  // SET...WHERE split happens by TOKENIZING (splitSetWhere), not in the
  // regex: a lazy ` WHERE ` split would shear a SET expression whose
  // scalar subquery (or string literal) contains the keyword
  private val UpdateRe =
    ("""(?is)\s*GRAFT\s+UPDATE\s+'([^']+)'\s+SET\s+(.+?)\s*;?\s*""").r
  private val RenameRe =
    ("""(?is)\s*GRAFT\s+RENAME\s+COLUMN\s+'([^']+)'\s+""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""").r
  private val DropColRe =
    ("""(?is)\s*GRAFT\s+DROP\s+COLUMN\s+'([^']+)'\s+""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""").r
  private val AddColRe =
    ("""(?is)\s*GRAFT\s+ADD\s+COLUMN\s+'([^']+)'\s+""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s+(.+?)\s*;?\s*""").r
  // empty parens = clear every declaration (the full-set contract);
  // dotted tokens declare struct LEAVES (meta.request_id), bracketed
  // tokens declare MAP KEYS (attrs['lang'])
  private val BloomRe =
    ("""(?is)\s*GRAFT\s+BLOOM\s+'([^']+)'\s*""" +
      """\(\s*([A-Za-z0-9_.]+(?:\['[^'\]]+'\])?""" +
      """(?:\s*,\s*[A-Za-z0-9_.]+(?:\['[^'\]]+'\])?)*)?\s*\)\s*;?\s*""").r
  private val BloomItemRe =
    """[A-Za-z0-9_.]+(?:\['[^'\]]+'\])?""".r
  private val AddCheckRe =
    ("""(?is)\s*GRAFT\s+ADD\s+CHECK\s+'([^']+)'\s+""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s*\((.+)\)\s*;?\s*""").r
  private val DropCheckRe =
    ("""(?is)\s*GRAFT\s+DROP\s+CHECK\s+'([^']+)'\s+""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""").r
  private val RelayoutRe =
    ("""(?is)\s*GRAFT\s+RELAYOUT\s+'([^']+)'""" +
      """(?:\s+PARTITION\s+BY\s*\(\s*([A-Za-z0-9_]+(?:\s*,\s*[A-Za-z0-9_]+)*)\s*\))?""" +
      """(?:\s+BUCKET\s+BY\s*\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\))?\s*;?\s*""").r
  // Catch-all for malformed GRAFT statements (missing quotes, absent
  // KEEP/VERSION clause, unknown verb): without it they would fall
  // through to Spark's ANTLR parser and surface as a generic
  // "syntax error at GRAFT" instead of the supported grammars.
  private val GraftAnyRe = """(?is)\s*GRAFT\b.*""".r

  /** The parsed AS OF clause (either capture may be null); no clause
    * addresses the latest version. A malformed stamp fails here, at
    * parse time. */
  private def asOf(v: String, ts: String): AsOf =
    if (ts != null) AsOf.Timestamp(GraftSqlParser.parseTsMillis(ts, sessionZone))
    else AsOf.Version(Option(v).map(_.toInt).getOrElse(Int.MaxValue))

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case RestoreRe(dir, v, ts) => GraftRestoreCommand(dir, asOf(v, ts))
    case CloneRe(src, dst, v, ts) => GraftCloneCommand(src, dst, asOf(v, ts))
    case VacuumRe(dir, k, age, dry) =>
      GraftVacuumCommand(dir, k.toInt,
        Option(age).map(_.toLong).getOrElse(0L), dryRun = dry != null)
    case AbsorbRe(dir) => GraftAbsorbDeletesCommand(dir)
    case HistoryRe(dir) => GraftHistoryCommand(dir)
    case ChangesRe(dir, from, to, tiled) =>
      // the feed's schema is the TABLE's (change_type + columns), so
      // this verb resolves to the readChanges plan itself rather than
      // a fixed-output command; range validation (expired fromV,
      // fromV > toV) fires here — at sql() parse, like the other verbs.
      // TILED serves the range as the UNION of per-commit feeds —
      // each commit's own diff under its own `_commit_version`, UPDATE
      // commits arriving as paired update images — exactly what the
      // change-feed STREAM serves, so a batch consumer and a streaming
      // consumer of the same range agree row for row (the net multiset
      // delta of the plain form trades that for one cheaper diff).
      val s = session.getOrElse(throw new IllegalStateException(
        "GRAFT CHANGES requires a session-bound parser " +
          "(spark.sql.extensions installs one)"))
      val fromV = from.toInt
      val toV = Option(to).map(_.toInt).getOrElse(Int.MaxValue)
      (if (tiled != null) SnapshotTable.streamChangeBatch(s, dir, fromV, toV)
       else SnapshotTable.readChanges(s, dir, fromV, toV)).queryExecution.logical
    case OptimizeZorderRe(dir, cols, n) =>
      GraftOptimizeZorderCommand(dir,
        cols.split(",").toSeq.map(_.trim),
        Option(n).map(_.toInt).getOrElse(0))
    case OptimizeBucketsRe(dir) => GraftOptimizeBucketsCommand(dir)
    case OptimizeRe(dir, small, target) =>
      GraftOptimizeCommand(dir,
        Option(small).map(_.toLong).getOrElse(32L * 1024 * 1024),
        Option(target).map(_.toLong).getOrElse(128L * 1024 * 1024))
    case AnalyzeRe(dir) => GraftAnalyzeCommand(dir)
    case DescribeRe(dir) => GraftDescribeCommand(dir)
    case ChecksRe(dir) => GraftChecksCommand(dir)
    case MergeDelRe(dir, using, key, del) =>
      // parse-time validation: a malformed subquery fails at sql()
      // parse like native SQL, not mid-merge
      delegate.parsePlan(using); delegate.parsePlan(del)
      GraftMergeCommand(dir, using, key, Some(del))
    case MergeRe(dir, using, key) =>
      delegate.parsePlan(using)
      GraftMergeCommand(dir, using, key, None)
    case DeleteRe(dir, pred) =>
      delegate.parseExpression(pred)
      GraftDeleteCommand(dir, pred)
    case UpdateRe(dir, body) =>
      val (setList, pred) = GraftSqlParser.splitSetWhere(body)
      val sets = GraftSqlParser.splitAssignments(setList)
      sets.foreach { case (_, e) => delegate.parseExpression(e) }
      delegate.parseExpression(pred)
      GraftUpdateCommand(dir, sets, pred)
    case RenameRe(dir, from, to) => GraftRenameColumnCommand(dir, from, to)
    case DropColRe(dir, c) => GraftDropColumnCommand(dir, c)
    case AddColRe(dir, c, dt) =>
      // type parsed by the DELEGATE (any Spark DDL type string); a
      // malformed one fails at sql() parse like native DDL
      GraftAddColumnCommand(dir, c, delegate.parseDataType(dt))
    case BloomRe(dir, cs) =>
      GraftBloomCommand(dir, Option(cs)
        .map(BloomItemRe.findAllIn(_).toSeq).getOrElse(Nil))
    case AddCheckRe(dir, name, e) =>
      delegate.parseExpression(e) // malformed CHECK fails at parse time
      GraftAddCheckCommand(dir, name, e)
    case DropCheckRe(dir, name) => GraftDropCheckCommand(dir, name)
    case RelayoutRe(dir, parts, n, bcol) =>
      GraftRelayoutCommand(dir,
        Option(parts).map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil),
        Option(n).map(nn => (nn.toInt, bcol)))
    case DescribeStatsRe(dir, v, ts) =>
      GraftDescribeStatsCommand(dir, asOf(v, ts))
    case BranchCreateRe(dir, n, v) =>
      GraftBranchCreateCommand(dir, n, Option(v).map(_.toInt))
    case BranchDropRe(dir, n) => GraftBranchDropCommand(dir, n)
    case BranchListRe(dir) => GraftBranchListCommand(dir)
    case PublishRe(dir, n) => GraftPublishCommand(dir, n)
    case TagCreateRe(dir, n, v) =>
      GraftTagCreateCommand(dir, n, Option(v).map(_.toInt))
    case TagDropRe(dir, n) => GraftTagDropCommand(dir, n)
    case TagListRe(dir) => GraftTagListCommand(dir)
    case FollowRe(dir, cursor, dest, key) =>
      GraftFollowCommand(dir, cursor, dest, Option(key))
    case RepartitionRe(dir, cs) =>
      GraftRepartitionCommand(dir,
        Option(cs).map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil))
    case StatsKeysRe(dir, ds) =>
      GraftStatsKeysCommand(dir, Option(ds)
        .map(StatsKeyItemRe.findAllIn(_).toSeq).getOrElse(Nil))
    case StatsRe(dir, v, ts) => GraftStatsCommand(dir, asOf(v, ts))
    case GraftAnyRe() =>
      throw new org.apache.spark.sql.catalyst.parser.ParseException(
        Option(sqlText),
        org.apache.spark.sql.catalyst.trees.Origin(),
        "PARSE_SYNTAX_ERROR",
        Map("error" -> "'GRAFT'",
          "hint" -> (": malformed GRAFT statement; supported grammars: " +
            "GRAFT RESTORE '<dir>' VERSION AS OF <n> | " +
            "GRAFT CLONE '<src>' TO '<dst>' [VERSION AS OF <n>] | " +
            "GRAFT VACUUM '<dir>' KEEP <n> [MIN AGE <ms>] [DRY RUN] | " +
            "GRAFT ABSORB DELETES '<dir>' | " +
            "GRAFT HISTORY '<dir>' | " +
            "GRAFT CHANGES '<dir>' FROM <v> [TO <v>] [TILED] | " +
            "GRAFT OPTIMIZE '<dir>' [SMALL <bytes> TARGET <bytes>] | " +
            "GRAFT OPTIMIZE '<dir>' ZORDER BY (a, b[, c[, d]]) " +
            "[FILES <n>] | " +
            "GRAFT OPTIMIZE '<dir>' BUCKETS | " +
            "GRAFT STATS '<dir>' [VERSION AS OF <n>] | " +
            "GRAFT DESCRIBE STATS '<dir>' [VERSION AS OF <n>] | " +
            "GRAFT ANALYZE '<dir>' | " +
            "GRAFT DESCRIBE '<dir>' | " +
            "GRAFT CHECKS '<dir>' | " +
            "GRAFT MERGE INTO '<dir>' USING (<select>) ON <key> " +
            "[DELETE (<select>)] | " +
            "GRAFT DELETE FROM '<dir>' WHERE <predicate> | " +
            "GRAFT UPDATE '<dir>' SET a = <expr>[, b = <expr>] " +
            "WHERE <predicate> | " +
            "GRAFT RENAME COLUMN '<dir>' <from> TO <to> | " +
            "GRAFT ADD COLUMN '<dir>' <col> <type> | " +
            "GRAFT DROP COLUMN '<dir>' <col> | " +
            "GRAFT BLOOM '<dir>' (a, b.leaf, attrs['k'], tags) | " +
            "GRAFT STATS KEYS '<dir>' (attrs['k'], ...) | " +
            "GRAFT REPARTITION '<dir>' BY (a, b) | " +
            "GRAFT BRANCH '<dir>' CREATE/DROP <name> | " +
            "GRAFT BRANCH '<dir>' LIST | " +
            "GRAFT PUBLISH '<dir>' <name> | " +
            "GRAFT TAG '<dir>' CREATE <name> [AS OF <version>] | " +
            "GRAFT TAG '<dir>' DROP <name> | " +
            "GRAFT TAG '<dir>' LIST | " +
            "GRAFT FOLLOW '<dir>' CURSOR '<path>' INTO '<dest>' " +
            "[KEY (col)] | " +
            "GRAFT ADD CHECK '<dir>' <name> (<expr>) | " +
            "GRAFT DROP CHECK '<dir>' <name> | " +
            "GRAFT RELAYOUT '<dir>' [PARTITION BY (a, b)] " +
            "[BUCKET BY (n, col)] | " +
            "GRAFT RESTORE/CLONE/STATS/DESCRIBE STATS ... " +
            "TIMESTAMP AS OF '<ts>'")))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlParser {
  /** Split a `SET` assignment list on TOP-LEVEL commas (commas inside
    * parens or string literals belong to the expressions), then each
    * item on its first `=` — `a = CASE WHEN x = 1 ...` keeps its inner
    * equalities. Duplicate target columns are refused. */
  private[sources] def splitAssignments(
      list: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inStr = false
    var last = 0
    var i = 0
    while (i < list.length) {
      val c = list.charAt(i)
      // backslash escapes are live inside literals under Spark's
      // default mode (escapedStringLiterals=false): \' stays in-string
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '\'') inStr = false
      }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          parts += list.substring(last, i); last = i + 1
        case _ =>
      }
      i += 1
    }
    parts += list.substring(last)
    val sets = parts.toSeq.map { a =>
      val eq = a.indexOf('=')
      require(eq > 0 && a.take(eq).trim.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"GRAFT UPDATE: malformed assignment '${a.trim}' " +
          "(expected <column> = <expr>)")
      (a.take(eq).trim, a.drop(eq + 1).trim)
    }
    require(sets.map(_._1).distinct.size == sets.size,
      s"GRAFT UPDATE: duplicate SET column in ${sets.map(_._1).mkString(",")}")
    sets
  }

  /** Split a GRAFT UPDATE body on its TOP-LEVEL `WHERE` — the same
    * paren/string-literal-aware scan [[splitAssignments]] uses, so a
    * SET expression containing the keyword inside a scalar subquery
    * (`SET a = (SELECT max(v) FROM w WHERE z = 1) WHERE k = 1`) or a
    * string literal (`SET note = ' where ' WHERE k = 1`) splits at the
    * statement's own WHERE, not the embedded one. A SET expression
    * itself never has a top-level WHERE (no ANSI expression grammar
    * puts one outside parens), so the FIRST top-level occurrence is
    * the boundary. Missing WHERE → targeted parse error (full-table
    * UPDATE is refused by grammar, like the Scala API's required
    * predicate). */
  private[sources] def splitSetWhere(body: String): (String, String) = {
    var depth = 0
    var inStr = false
    var i = 0
    def isWordChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_'
    while (i < body.length) {
      val c = body.charAt(i)
      // same backslash-escape rule as splitAssignments: `\'` inside a
      // literal must not end the string (or `SET note = 'don\'t know
      // where'` would split at the in-literal WHERE)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '\'') inStr = false
      }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'w' | 'W' if depth == 0 &&
            i + 5 <= body.length &&
            body.substring(i, i + 5).equalsIgnoreCase("where") &&
            (i == 0 || !isWordChar(body.charAt(i - 1))) &&
            (i + 5 == body.length || !isWordChar(body.charAt(i + 5))) =>
          return (body.substring(0, i).trim, body.substring(i + 5).trim)
        case _ =>
      }
      i += 1
    }
    throw new org.apache.spark.sql.catalyst.parser.ParseException(
      Option(body), org.apache.spark.sql.catalyst.trees.Origin(),
      "PARSE_SYNTAX_ERROR",
      Map("error" -> "'GRAFT UPDATE'",
        "hint" -> (": missing top-level WHERE — the grammar is GRAFT " +
          "UPDATE '<dir>' SET a = <expr>[, ...] WHERE <predicate>")))
  }

  /** Parse a `TIMESTAMP AS OF` literal to epoch millis. Accepted forms:
    * `yyyy-MM-dd HH:mm:ss.SSS`, `yyyy-MM-dd HH:mm:ss`, `yyyy-MM-dd`
    * (each a wall-clock reading in `zone` — the session's
    * `spark.sql.session.timeZone`, the Delta resolution rule), or a
    * bare epoch-millis integer (zone-independent; commit stamps are
    * `System.currentTimeMillis`). Raises a targeted ParseException
    * otherwise. */
  // no defaulted zone: the session-zone resolution rule is part of the
  // contract, so every caller must say which zone its wall-clock
  // literals read in (tests pass ZoneOffset.UTC explicitly)
  private[sources] def parseTsMillis(t: String,
      zone: java.time.ZoneId): Long = {
    val s = t.trim
    if (s.matches("\\d{10,}")) return s.toLong
    val date = """(\d{4}-\d{2}-\d{2})""".r
    val dateTime = """(\d{4}-\d{2}-\d{2})[ T](\d{2}:\d{2}:\d{2})(\.\d{1,3})?""".r
    // calendar-invalid fields ('2026-02-31', hour 99) match the shape
    // regexes but fail java.time parsing — route them to the SAME
    // targeted error as a malformed shape, not a raw
    // DateTimeParseException out of Spark's parser
    val parsed: Option[java.time.LocalDateTime] =
      try s match {
        case dateTime(d, tm, frac) =>
          val base = java.time.LocalDateTime.parse(s"${d}T$tm")
          val millis = Option(frac)
            .map(f => (f.stripPrefix(".").padTo(3, '0')).toLong).getOrElse(0L)
          Some(base.plusNanos(millis * 1000000L))
        case date(d) => Some(java.time.LocalDate.parse(d).atStartOfDay)
        case _ => None
      } catch { case _: java.time.format.DateTimeParseException => None }
    parsed.map(_.atZone(zone).toInstant.toEpochMilli).getOrElse(
      throw new org.apache.spark.sql.catalyst.parser.ParseException(
        Option(s), org.apache.spark.sql.catalyst.trees.Origin(),
        "PARSE_SYNTAX_ERROR",
        Map("error" -> s"'$s'",
          "hint" -> (": TIMESTAMP AS OF accepts 'yyyy-MM-dd[ HH:mm:ss" +
            "[.SSS]]' (read in spark.sql.session.timeZone) or epoch " +
            "millis"))))
  }
}

/** A verb's AS OF clause: `VERSION AS OF <n>` (Int.MaxValue: no
  * clause, the latest version) or `TIMESTAMP AS OF '<ts>'` — the
  * greatest version committed at or before the stamp, resolved when
  * the command RUNS (a plan parsed earlier sees the commits landed
  * since). */
sealed trait AsOf {
  def version(s: SparkSession, tableDir: String): Int
}

object AsOf {
  final case class Version(v: Int) extends AsOf {
    def version(s: SparkSession, tableDir: String): Int = v
  }
  final case class Timestamp(tsMillis: Long) extends AsOf {
    def version(s: SparkSession, tableDir: String): Int =
      SnapshotTable.versionAtTimestamp(s, tableDir, tsMillis)
  }
}

/** `GRAFT RESTORE '<dir>' VERSION AS OF <v>` (or `TIMESTAMP AS OF
  * '<ts>'` — wall-clock rollback) → the new latest version. */
case class GraftRestoreCommand(tableDir: String, asOf: AsOf)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.restore(s, tableDir, asOf.version(s, tableDir))))
}

/** `GRAFT CLONE '<src>' TO '<dst>' [VERSION AS OF <v> | TIMESTAMP AS OF
  * '<ts>']` → dst's v1. */
case class GraftCloneCommand(srcDir: String, dstDir: String, asOf: AsOf)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.cloneTable(s, srcDir, dstDir,
      asOf.version(s, srcDir))))
}

/** `GRAFT HISTORY '<dir>'` → one row per published version (the
  * [[SnapshotTable.history]] inspection, O(retained versions) manifest
  * reads, zero data-file access), operation kind included — the
  * `DESCRIBE HISTORY` answer to "what did version N DO". */
case class GraftHistoryCommand(tableDir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("operation", org.apache.spark.sql.types.StringType,
      nullable = true)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = true)(),
    AttributeReference("total_bytes", LongType, nullable = true)(),
    AttributeReference("n_txns", LongType, nullable = false)(),
    AttributeReference("bucket", org.apache.spark.sql.types.StringType,
      nullable = true)(),
    AttributeReference("n_del_rows", LongType, nullable = false)(),
    AttributeReference("commit_ts", LongType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.history(s, tableDir).collect().toSeq
}

/** `GRAFT OPTIMIZE '<dir>' [SMALL <bytes> TARGET <bytes>]` — bin-pack
  * files under the small threshold into ~target-size files
  * ([[SnapshotTable.compact]], optimistic-concurrency OPTIMIZE).
  * Returns the published version, or NULL when there was nothing to do
  * (≤1 small file, a bucketed layout, or outstanding deletion vectors —
  * each a documented compact no-op, not an error). */
case class GraftOptimizeCommand(tableDir: String, smallFileBytes: Long,
    targetFileBytes: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.compact(s, tableDir, smallFileBytes,
      targetFileBytes).map(Integer.valueOf).orNull))
}

/** `GRAFT OPTIMIZE '<dir>' ZORDER BY (<a>, <b>[, <c>[, <d>]]) [FILES
  * <n>]` — rewrite the whole live snapshot along the n-dim Morton curve
  * ([[SnapshotTable.rewriteZorderedBy]], Delta's `OPTIMIZE ... ZORDER
  * BY`); zone maps then prune predicates on ANY of the dimensions.
  * NULL version on a refused/conflicted rewrite. */
case class GraftOptimizeZorderCommand(tableDir: String,
    zCols: Seq[String], nFiles: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.rewriteZorderedBy(s, tableDir, zCols, nFiles)
      .map(Integer.valueOf).orNull))
}

/** `GRAFT STATS '<dir>' [VERSION AS OF <v> | TIMESTAMP AS OF '<ts>']` —
  * the metadata-served column statistics of a snapshot
  * ([[SnapshotTable.metaAgg]]): one row per stat-eligible column with
  * exact row/non-null counts and min/max, answered from the manifest
  * alone (zero data-file reads). On a snapshot with outstanding
  * merge-on-read deletes only `n_rows` stays exact; non-null counts and
  * bounds read NULL with `bounds_exact=false` (absorbDeletes restores
  * them). */
case class GraftStatsCommand(tableDir: String, asOf: AsOf)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    val st = org.apache.spark.sql.types.StringType
    val dt = org.apache.spark.sql.types.DoubleType
    val bt = org.apache.spark.sql.types.BooleanType
    Seq(
      AttributeReference("column", st, nullable = true)(),
      AttributeReference("kind", st, nullable = true)(),
      AttributeReference("n_rows", LongType, nullable = false)(),
      // unknown (NULL) under outstanding deletion vectors — deleted
      // rows' nullness is not metadata-derivable; n_rows stays exact
      AttributeReference("n_nonnull", LongType, nullable = true)(),
      AttributeReference("min_long", LongType, nullable = true)(),
      AttributeReference("max_long", LongType, nullable = true)(),
      AttributeReference("min_double", dt, nullable = true)(),
      AttributeReference("max_double", dt, nullable = true)(),
      AttributeReference("min_string", st, nullable = true)(),
      AttributeReference("max_string", st, nullable = true)(),
      AttributeReference("bounds_exact", bt, nullable = false)(),
      AttributeReference("est_ndv", dt, nullable = true)())
  }
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.metaAgg(s, tableDir, asOf.version(s, tableDir))
      .collect().toSeq
}

/** `GRAFT DESCRIBE STATS '<dir>' [VERSION AS OF <v> | TIMESTAMP AS OF
  * '<ts>']` — the PLANNER-visible catalog statistics
  * ([[SnapshotTable.plannerStats]]): per stat-eligible column the NDV
  * estimate, null count, avg byte width, and min/max exactly as
  * join/filter planning sees them under CBO — the verification doorway
  * for "what does the optimizer think this table looks like", one
  * manifest read, zero data I/O. (`GRAFT STATS` serves the metaAgg view
  * — exact metadata-only aggregates; this serves the CATALOG view the
  * planner consumes.) */
case class GraftDescribeStatsCommand(tableDir: String, asOf: AsOf)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    val st = org.apache.spark.sql.types.StringType
    Seq(
      AttributeReference("column", st, nullable = true)(),
      AttributeReference("data_type", st, nullable = true)(),
      AttributeReference("row_count", LongType, nullable = true)(),
      AttributeReference("distinct_count", LongType, nullable = true)(),
      AttributeReference("null_count", LongType, nullable = true)(),
      AttributeReference("avg_len", LongType, nullable = true)(),
      AttributeReference("min", st, nullable = true)(),
      AttributeReference("max", st, nullable = true)())
  }
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.plannerStats(s, tableDir, asOf.version(s, tableDir))
      .collect().toSeq
}

/** `GRAFT OPTIMIZE '<dir>' BUCKETS` — pack every multi-file bucket
  * (per hive partition) back to one sorted file
  * ([[SnapshotTable.compactBuckets]]): restores the exchange-free /
  * sort-free join shape appends fragment. NULL version when every
  * bucket is already single-file, on outstanding deletion vectors, or
  * on an unbucketed table (each a documented no-op). */
case class GraftOptimizeBucketsCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.compactBuckets(s, tableDir)
      .map(Integer.valueOf).orNull))
}

/** `GRAFT ANALYZE '<dir>'` — recollect per-file zone maps + table NDV
  * from the live data and publish them as a stats-only commit
  * ([[SnapshotTable.analyze]]): the repair op for planner statistics
  * after DML (merge/delete drop the NDV sketch — a bottom-k sketch
  * cannot subtract) and for files written before their column types
  * became stat-eligible. NULL version when refused (outstanding
  * deletion vectors — absorb first; legacy/empty snapshots; concurrent
  * commit conflict). */
case class GraftAnalyzeCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.analyze(s, tableDir)
      .map(Integer.valueOf).orNull))
}

/** `GRAFT RELAYOUT '<dir>' [PARTITION BY (a, b)] [BUCKET BY (n, col)]`
  * — partition evolution in pure SQL ([[SnapshotTable.relayout]]): ONE
  * atomic overwrite of the live rows into the new hive/bucket/flat
  * scheme; history keeps each version's own layout. No clause = rewrite
  * back to the flat zone-map layout. Returns the published version. */
case class GraftRelayoutCommand(tableDir: String, partitionBy: Seq[String],
    bucketBy: Option[(Int, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.relayout(s, tableDir, partitionBy, bucketBy)))
}

/** `GRAFT VACUUM '<dir>' KEEP <k> [MIN AGE <ms>] [DRY RUN]` →
  * (expired versions, deleted files). MIN AGE guards in-flight
  * commits: only litter older than the window is swept — run with it
  * comfortably above the longest commit when writers are live (the
  * Delta VACUUM retention shape). DRY RUN reports the SAME counts the
  * real sweep would produce while touching nothing — the
  * look-before-you-leap an irreversible retention op owes its
  * operator (Delta's `VACUUM ... DRY RUN`). */
case class GraftVacuumCommand(tableDir: String, keepVersions: Int,
    minAgeMs: Long = 0L, dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("expired_versions", LongType, nullable = false)(),
    AttributeReference("deleted_files", LongType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] = {
    val st = SnapshotTable.vacuum(s, tableDir, keepVersions, minAgeMs,
      dryRun = dryRun)
    Seq(Row(st.expiredManifests.toLong, st.deletedDataFiles.toLong))
  }
}

/** `GRAFT MERGE INTO '<dir>' USING (<select>) ON <key>
  * [DELETE (<select>)]` — the SQL doorway to [[SnapshotTable.merge]]:
  * the USING subquery's rows upsert by `key` (replace matching keys,
  * insert new ones), the optional DELETE subquery's rows name keys to
  * remove, all published as ONE serializable commit with the Scala
  * API's selective-rewrite cost model (only files containing touched
  * keys are rewritten — at 100 TB a 0.1%-of-keys merge rewrites ~0.1%
  * of files). Subqueries are executed by the session at run time, so
  * they may read any registered view/table — including another
  * snapshot table via the `graft` source. Returns the new version. */
case class GraftMergeCommand(tableDir: String, usingSql: String,
    key: String, deleteSql: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] = {
    val upserts = s.sql(usingSql)
    require(upserts.columns.contains(key),
      s"GRAFT MERGE: key '$key' not in USING columns " +
        upserts.columns.mkString(","))
    val deletes = deleteSql.map(s.sql).getOrElse(
      upserts.select(key).where(org.apache.spark.sql.functions.lit(false)))
    Seq(Row(SnapshotTable.merge(s, tableDir, upserts, deletes, key)))
  }
}

/** `GRAFT RENAME COLUMN '<dir>' <from> TO <to>` — metadata-only column
  * rename ([[SnapshotTable.renameColumn]]): one manifest publish, zero
  * data files touched at any table size. Returns the new version. */
case class GraftRenameColumnCommand(tableDir: String, from: String,
    to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.renameColumn(s, tableDir, from, to)))
}

/** `GRAFT DESCRIBE '<dir>'` — schema introspection
  * ([[SnapshotTable.describeColumns]]): one row per column with its
  * logical name, type, PHYSICAL storage name (≠ logical after a
  * rename), Bloom declaration, and layout role. One manifest read. */
case class GraftDescribeCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    val st = org.apache.spark.sql.types.StringType
    Seq(
      AttributeReference("column", st, nullable = true)(),
      AttributeReference("data_type", st, nullable = true)(),
      AttributeReference("physical_name", st, nullable = true)(),
      AttributeReference("bloom",
        org.apache.spark.sql.types.BooleanType, nullable = false)(),
      AttributeReference("layout_role", st, nullable = true)())
  }
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.describeColumns(s, tableDir).collect().toSeq
}

/** `GRAFT CHECKS '<dir>'` — the table's named CHECK constraints
  * ([[SnapshotTable.constraints]]), one (name, expression) row each. */
case class GraftChecksCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    val st = org.apache.spark.sql.types.StringType
    Seq(AttributeReference("name", st, nullable = true)(),
      AttributeReference("expression", st, nullable = true)())
  }
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.constraints(s, tableDir).toSeq.sortBy(_._1)
      .map { case (n, e) => Row(n, e) }
}

/** `GRAFT ADD COLUMN '<dir>' <col> <type>` — metadata-only column add
  * ([[SnapshotTable.addColumn]]): existing files read NULL for it; the
  * explicit type contract future appends must match or widen. */
case class GraftAddColumnCommand(tableDir: String, colName: String,
    dataType: org.apache.spark.sql.types.DataType)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.addColumn(s, tableDir, colName, dataType)))
}

/** `GRAFT DROP COLUMN '<dir>' <col>` — metadata-only column drop
  * ([[SnapshotTable.dropColumn]]): the name (and its physical storage
  * name) stays reserved until an overwrite resets the table. */
case class GraftDropColumnCommand(tableDir: String, colName: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.dropColumn(s, tableDir, colName)))
}

/** `GRAFT BLOOM '<dir>' (a, b)` — declare the per-file membership-Bloom
  * columns ([[SnapshotTable.setBloomColumns]]; the FULL desired set —
  * `()` clears every declaration). Metadata-only commit. */
case class GraftBloomCommand(tableDir: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.setBloomColumns(s, tableDir, cols)))
}

/** `GRAFT BRANCH '<dir>' CREATE <name> [AS OF <version>]` — zero-copy
  * branch for write-audit-publish ([[SnapshotTable.branchCreate]]);
  * writes land on the branch directory through every normal API. AS OF
  * forks from a RETAINED version instead of the latest — reproduce the
  * past, fix forward, publish as a rebase. */
case class GraftBranchCreateCommand(tableDir: String, name: String,
    asOf: Option[Int] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("branch_dir",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.branchDir(tableDir, name),
      SnapshotTable.branchCreate(s, tableDir, name,
        asOf.getOrElse(Int.MaxValue))))
}

/** `GRAFT BRANCH '<dir>' DROP <name>` ([[SnapshotTable.dropBranch]]). */
case class GraftBranchDropCommand(tableDir: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("dropped",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] = {
    SnapshotTable.dropBranch(s, tableDir, name)
    Seq(Row(name))
  }
}

/** `GRAFT BRANCH '<dir>' LIST` — live branch names. */
case class GraftBranchListCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("branch",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.branches(s, tableDir).map(Row(_))
}

/** `GRAFT PUBLISH '<dir>' <name>` — fast-forward (or file-granularity
  * rebase) the branch onto main as ONE atomic commit
  * ([[SnapshotTable.publishBranch]]). */
case class GraftPublishCommand(tableDir: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.publishBranch(s, tableDir, name)))
}

/** `GRAFT TAG '<dir>' CREATE <name> [AS OF <version>]` — immutable
  * named snapshot pin ([[SnapshotTable.createTag]]): readable forever
  * as `tag=<name>` (the source's `tag` option), protected from vacuum
  * expiry until dropped. */
case class GraftTagCreateCommand(tableDir: String, name: String,
    version: Option[Int]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.createTag(s, tableDir, name, version)))
}

/** `GRAFT TAG '<dir>' DROP <name>` — release the pin; the version
  * re-joins normal retention. */
case class GraftTagDropCommand(tableDir: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("dropped",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] = {
    SnapshotTable.dropTag(s, tableDir, name)
    Seq(Row(name))
  }
}

/** `GRAFT TAG '<dir>' LIST` — live tags and their pinned versions. */
case class GraftTagListCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("tag",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.tags(s, tableDir).toSeq.sortBy(_._1)
      .map { case (n, v) => Row(n, v) }
}

/** `GRAFT FOLLOW '<src>' CURSOR '<path>' INTO '<dest>' [KEY (col)]` —
  * one incremental consumption step, SQL edition: reads the change
  * feed from the durable cursor to the current latest
  * ([[SnapshotTable.followRange]], the range-taking form of
  * [[SnapshotTable.followChanges]]), applies it to `<dest>` as ONE
  * idempotent commit (writer = the cursor's stable identity, version
  * = the consumed `to` — so a crash between apply and cursor advance
  * replays as a no-op: exactly-once end to end, the composition
  * `SnapshotChangesSpec` proves), and advances the cursor only after
  * the apply lands.
  *
  * Without KEY the apply is an APPEND, so the range must be an
  * append chain — a rewrite/DELETE/UPDATE in it refuses loudly (its
  * feed carries deletes and update images a blind append would
  * corrupt). With `KEY (col)` — the declaration that `col` uniquely
  * keys the source's rows — ANY feed applies as a keyed CDC step
  * (the Delta `MERGE`-from-CDF recipe): insert/update_postimage rows
  * upsert, keys on the delete side with no insert side delete, via
  * ONE idempotent selective [[SnapshotTable.mergeIdempotent]]. The
  * keyed apply is a prefix-safe function of source state (each
  * touched key lands at its `to`-version value), so a crash replay
  * over a GROWN range stays correct, not just the watermark-equal
  * one. Returns the consumed (from, to) range; zero rows when
  * already caught up. */
case class GraftFollowCommand(tableDir: String, cursorPath: String,
    destDir: String, key: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("from_version", IntegerType, nullable = false)(),
    AttributeReference("to_version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    SnapshotTable.followRange(s, tableDir, cursorPath) { range =>
      import org.apache.spark.sql.functions.col
      val (from, to) = (range.fromV, range.toV)
      lazy val feed = range.changes()
      key match {
        case None =>
          if (!range.appendChain)
            throw new IllegalStateException(
              s"GRAFT FOLLOW: versions ($from, $to] of $tableDir contain a " +
                "rewrite/DELETE/UPDATE — the feed is not inserts-only, and a " +
                "blind append downstream would corrupt it. Consume it " +
                "keyed (add KEY (<col>)), via the change-feed stream " +
                "(changeFeed=true), or through the followChanges API.")
          SnapshotTable.commitIdempotent(s, destDir,
            feed.drop("change_type"), overwrite = false,
            txnId = SnapshotTable.writerIdFor(cursorPath), txnVersion = to)
          ()
        case Some(k) =>
          require(feed.columns.contains(k),
            s"GRAFT FOLLOW: key column '$k' is not in the feed " +
              s"(${feed.columns.mkString(", ")})")
          // the diff legs are the expensive part and the apply reads
          // the feed again for the merge's upsert side — persist it for
          // the scope of this one step; it is O(the range's churn),
          // never O(table)
          val cached = feed.persist()
          try {
            import org.apache.spark.sql.functions.{sum, when}
            // the net multiset delta of a keyed source holds, per
            // touched key, its to-version row on the insert side
            // and/or its from-version row on the delete side (update
            // images count as their respective sides) — so upsert the
            // insert side, delete the keys only the delete side names.
            // ONE aggregation over the persisted feed classifies every
            // touched key (insert-side rows, delete-side rows): it
            // replaces the former ins.isEmpty + delKeys.isEmpty probes
            // AND — when the ≤1025-key result is complete, the common
            // CDC-step case — serves the merge's touched-key set and
            // delete-key set driver-side, so the former distinct +
            // anti-join delKeys plan and the merge's own touched-set
            // job never run. limit(1026) caps driver materialization;
            // an incomplete result falls back to the distributed shape.
            val isIns = col("change_type").isin("insert", "update_postimage")
            val keyStats = cached.groupBy(col(k))
              .agg(sum(when(isIns, 1L).otherwise(0L)).as("__ni"),
                sum(when(isIns, 0L).otherwise(1L)).as("__nd"))
              .limit(1026).collect()
            val ins = cached.filter(isIns).drop("change_type")
            // a row-preserving rewrite in the range (compaction,
            // absorb) diffs to an EMPTY feed — advance the cursor
            // without publishing a junk downstream version (the range
            // that REFUSES in append mode is a clean no-op here)
            if (keyStats.nonEmpty) {
              val writer = SnapshotTable.writerIdFor(cursorPath)
              if (keyStats.length <= 1025) {
                // complete key census: delete keys = delete-side-only
                // keys (nulls dropped — a null key matches nothing
                // under the merge's anti-join/NOT-IN either way),
                // touched = every non-null key
                val delVals = keyStats.filter(r =>
                  !r.isNullAt(0) && r.getLong(1) == 0L && r.getLong(2) > 0L)
                  .map(_.get(0)).toIndexedSeq
                val touched = keyStats.filter(!_.isNullAt(0))
                  .map(_.get(0)).toIndexedSeq
                val kType = cached.schema(k).dataType
                val delKeys = s.createDataFrame(
                  java.util.Arrays.asList(delVals.map(v =>
                    org.apache.spark.sql.Row(v)): _*),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField(k, kType))))
                if (touched.size <= 1024)
                  SnapshotTable.mergeIdempotentKeyed(s, destDir, ins,
                    delKeys, k, txnId = writer, txnVersion = to,
                    touchedKeys = touched)
                else
                  SnapshotTable.mergeIdempotent(s, destDir, ins, delKeys,
                    k, txnId = writer, txnVersion = to)
              } else {
                // >1025 touched keys: the former distributed shape —
                // distinct delete keys anti-joined against insert keys,
                // persisted (referenced by the merge's touched union
                // and survivor anti-join)
                val delKeys = cached.filter(!isIns).select(col(k))
                  .distinct()
                  .join(ins.select(col(k)).distinct(), Seq(k), "left_anti")
                  .persist()
                try SnapshotTable.mergeIdempotent(s, destDir, ins, delKeys,
                  k, txnId = writer, txnVersion = to)
                finally { delKeys.unpersist(); () }
              }
            }
          } finally { cached.unpersist(); () }
          ()
      }
    } match {
      case Some((from, to)) => Seq(Row(from, to))
      case None => Seq.empty
    }
}

/** `GRAFT REPARTITION '<dir>' BY (col, ...)` — partition evolution
  * ([[SnapshotTable.repartitionBy]]): metadata-only scheme change for
  * FUTURE commits; already-written files stay readable under their
  * own era's layout. `BY ()` evolves back to flat. */
case class GraftRepartitionCommand(tableDir: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.repartitionBy(s, tableDir, cols)))
}

/** `GRAFT STATS KEYS '<dir>' (attrs['lang'], ...)` — declare the map
  * keys that get per-file zone maps ([[SnapshotTable.setMapStatKeys]];
  * the FULL desired set — `()` clears every declaration).
  * Metadata-only commit. */
case class GraftStatsKeysCommand(tableDir: String, decls: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.setMapStatKeys(s, tableDir, decls)))
}

/** `GRAFT ADD CHECK '<dir>' <name> (<expr>)` — named CHECK constraint
  * ([[SnapshotTable.addConstraint]]): validated against current data,
  * enforced on every subsequent commit/merge. */
case class GraftAddCheckCommand(tableDir: String, name: String,
    sqlExpr: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.addConstraint(s, tableDir, name, sqlExpr)))
}

/** `GRAFT DROP CHECK '<dir>' <name>` — drop a named CHECK constraint
  * ([[SnapshotTable.dropConstraint]]); NULL version when absent. */
case class GraftDropCheckCommand(tableDir: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.dropConstraint(s, tableDir, name)
      .map(Integer.valueOf).orNull))
}

/** `GRAFT UPDATE '<dir>' SET a = <expr>[, ...] WHERE <pred>` — the SQL
  * doorway to [[SnapshotTable.updateWhere]]: provably-TRUE rows take
  * the assignments (cast back to their columns' types), only files
  * holding a matching row are rewritten (zone-map/Bloom-pruned probe).
  * NULL version when no row matched. */
case class GraftUpdateCommand(tableDir: String,
    sets: Seq[(String, String)], predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.expr
    Seq(Row(SnapshotTable.updateWhere(s, tableDir, expr(predicateSql),
      sets.map { case (c, e) => c -> expr(e) }.toMap)
      .map(Integer.valueOf).orNull))
  }
}

/** `GRAFT DELETE FROM '<dir>' WHERE <predicate>` — the SQL doorway to
  * [[SnapshotTable.deleteWhere]]: merge-on-read deletion-vector delete
  * (metadata-only commit, no data rewrite) with SQL DELETE semantics —
  * only provably-TRUE rows go. NULL version when no row matched. */
case class GraftDeleteCommand(tableDir: String, predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.deleteWhere(s, tableDir,
      org.apache.spark.sql.functions.expr(predicateSql))
      .map(Integer.valueOf).orNull))
}

/** `GRAFT ABSORB DELETES '<dir>'` — materialize outstanding deletion
  * vectors by rewriting ONLY the files that carry deletes
  * ([[SnapshotTable.absorbDeletes]], Delta's REORG ... APPLY (PURGE)):
  * restores a vector-free table (and metaAgg/OPTIMIZE eligibility).
  * NULL version when there was nothing to absorb. */
case class GraftAbsorbDeletesCommand(tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = true)())
  override def run(s: SparkSession): Seq[Row] =
    Seq(Row(SnapshotTable.absorbDeletes(s, tableDir)
      .map(Integer.valueOf).orNull))
}
