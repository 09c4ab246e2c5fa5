package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType, TimestampType}

import graft.sources.TxLogTable

/** SQL surface for the transactional (txlog) table — the parser
  * extension the `.withExtensions` seam injects
  * ([[GraftExtensions]]), so a SQL-first user (the reference's own
  * idiom is SQL strings: monthly_price_paid_data.py:147-156,
  * pull_new_sales_list.py:252-264 run `ON CONFLICT` upserts as text)
  * drives the table without touching the Scala API:
  *
  * {{{
  * spark.sql("MERGE INTO txlog.`/data/t` t USING (SELECT ...) s " +
  *   "ON t.k = s.k " +
  *   "WHEN MATCHED AND s.flag THEN DELETE " +
  *   "WHEN MATCHED THEN UPDATE SET * " +
  *   "WHEN NOT MATCHED THEN INSERT *")
  * spark.sql("UPDATE txlog.`/data/t` SET v = v * 2 WHERE k = 1")
  * spark.sql("DELETE FROM txlog.`/data/t` WHERE k = 2")
  * spark.sql("SELECT * FROM txlog.`/data/t` VERSION AS OF 3")
  * spark.sql("SELECT * FROM txlog.`/data/t` TIMESTAMP AS OF '...'")
  * }}}
  *
  * Design: Spark's OWN grammar already parses every one of these
  * statements (MergeIntoTable / UpdateTable / DeleteFromTable /
  * RelationTimeTravel catalyst nodes) — it only lacks an execution
  * path for a V1 path-based table. So the extension delegates ALL
  * parsing to the built-in parser and REWRITES the returned tree:
  * nodes whose target is a `txlog.`path`` relation become runnable
  * commands routed to the already-oracled [[TxLogTable]] primitives
  * (`mergeConditional` / `update` / `delete` / `readAt`); everything
  * else passes through untouched, including plain
  * `SELECT ... FROM txlog.`path`` (Spark's file-relation resolution
  * handles that natively via the registered DataSource).
  *
  * Supported MERGE shape = exactly [[TxLogTable.mergeConditional]]'s
  * contract: equi-key ON conjunction, ordered `WHEN MATCHED [AND c]
  * THEN UPDATE SET * | DELETE` clauses, one optional `WHEN NOT
  * MATCHED [AND c] THEN INSERT *`. Column-level assignment clauses
  * and NOT MATCHED BY SOURCE are rejected with a clear error rather
  * than silently approximated.
  */
final class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlRewrite.maintenance(sqlText,
        Some(() => GraftSqlRewrite(session, delegate.parsePlan(sqlText))))
      .getOrElse(GraftSqlRewrite(session, delegate.parsePlan(sqlText)))

  override def parseQuery(sqlText: String): LogicalPlan =
    GraftSqlRewrite(session, delegate.parseQuery(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** The tree rewrite behind [[GraftSqlParser]] — exposed separately so
  * [[GraftSql.sql]] can offer the same statements on a session built
  * WITHOUT extensions (the Verify/Bench drivers).
  */
object GraftSqlRewrite {

  // Maintenance statements Spark's grammar does NOT parse (the Delta
  // SQL idioms), intercepted textually before delegation:
  //   DESCRIBE HISTORY txlog.`p`
  //   VACUUM txlog.`p` [FULL] [RETAIN n HOURS]
  //     (FULL = retainHistory=false; RETAIN overrides the 1-hour
  //      concurrent-writer age guard — RETAIN 0 HOURS only when no
  //      writer can be in flight)
  //   OPTIMIZE txlog.`p` [ZORDER BY (c1, c2)] [INTO n FILES]
  // A maintenance target is either the path spelling (txlog.`/p`) or
  // a dotted table NAME — a session-catalog `USING txlog` table or a
  // `TxLogCatalog`-qualified name (resolved at RUN time, when the
  // command has a session).
  private val Target =
    """(?:txlog\.`([^`]+)`|([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*))"""
  private val HistoryRe =
    s"""(?is)\\s*DESCRIBE\\s+HISTORY\\s+$Target\\s*;?\\s*""".r
  private val DetailRe =
    s"""(?is)\\s*DESCRIBE\\s+DETAIL\\s+$Target\\s*;?\\s*""".r
  private val VacuumRe =
    (s"""(?is)\\s*VACUUM\\s+$Target(\\s+FULL)?""" +
      """(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val OptimizeRe =
    (s"""(?is)\\s*OPTIMIZE\\s+$Target""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?""" +
      """(?:\s+INTO\s+(\d+)\s+FILES)?\s*;?\s*""").r
  private val ShowPartsRe =
    s"""(?is)\\s*SHOW\\s+PARTITIONS\\s+$Target\\s*;?\\s*""".r


  private def targetOf(path: String, name: String): Either[String, Seq[String]] =
    if (path != null) Left(path) else Right(name.split("\\.").toSeq)

  /** Resolve a maintenance target to the table's root directory —
    * paths verbatim; names through the session catalog
    * ([[catalogRoot]]) or a registered [[graft.sources.TxLogCatalog]]
    * ([[v2CatalogRoot]]).
    */
  private[plans] def resolveTarget(session: SparkSession,
      target: Either[String, Seq[String]]): String = target match {
    case Left(path) => path
    case Right(parts) =>
      catalogRoot(session, parts)
        .orElse(v2CatalogRoot(session, parts))
        .getOrElse(fail(
          s"${parts.mkString(".")} does not resolve to a txlog table"))
  }

  /** Parse a maintenance statement, or None to delegate to Spark.
    * `fallback` lazily parses the ORIGINAL text with the underlying
    * parser — needed only by statements Spark's own grammar ALSO
    * speaks (SHOW PARTITIONS), where a non-txlog target must keep
    * Spark's native behavior instead of failing resolution.
    */
  def maintenance(sqlText: String,
      fallback: Option[() => LogicalPlan] = None)
      : Option[LogicalPlan] = sqlText match {
    case HistoryRe(p, n) => Some(GraftHistoryCommand(targetOf(p, n)))
    case DetailRe(p, n) => Some(GraftDetailCommand(targetOf(p, n)))
    case ShowPartsRe(p, n) =>
      Some(GraftShowPartitionsCommand(targetOf(p, n), fallback))
    case VacuumRe(p, n, full, retain, dry) =>
      Some(GraftVacuumCommand(targetOf(p, n), full = full != null,
        retainHours = Option(retain).map(_.toLong),
        dryRun = dry != null))
    case OptimizeRe(p, n, where, zorder, files) =>
      val cols = Option(zorder).toSeq
        .flatMap(_.split(",")).map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty)
      Some(GraftOptimizeCommand(targetOf(p, n), cols,
        Option(files).map(_.trim.toInt),
        Option(where).map(_.trim).filter(_.nonEmpty)))
    case _ => None
  }

  /** Does a REAL catalog table `txlog`.`name` exist? If a user has a
    * genuine database named `txlog`, its tables must keep resolving
    * through Spark's own path — the path-table shorthand only claims
    * identifiers the catalog cannot resolve.
    */
  private def resolvesInTxlogDb(session: SparkSession,
      name: String): Boolean =
    try {
      val cat = session.sessionState.catalog
      cat.databaseExists("txlog") && cat.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(name, Some("txlog")))
    } catch { case scala.util.control.NonFatal(_) => false }

  /** `txlog.`path`` target (possibly aliased) → (path, alias).
    * Hijacks ONLY identifiers that are path-shaped (contain `/` —
    * no catalog table name can) or that the catalog cannot resolve;
    * a real table in a real database named `txlog` passes through to
    * the delegate untouched.
    */
  private def txlogTarget(session: SparkSession,
      plan: LogicalPlan): Option[(String, Option[String])] =
    plan match {
      case SubqueryAlias(id, child) =>
        txlogTarget(session, child).map { case (p, _) => (p, Some(id.name)) }
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("txlog") =>
        val name = u.multipartIdentifier(1)
        if (name.contains("/") || !resolvesInTxlogDb(session, name))
          Some((name, None))
        else None
      case _ => None
    }

  /** Catalog-table root: a 1-/2-part identifier registered as
    * `CREATE TABLE ... USING txlog` resolves to its location, so DML
    * and time travel work on NAMED tables too. Temp views shadow
    * catalog names (Spark's own precedence), and anything that isn't
    * a txlog catalog table answers None — the statement then follows
    * Spark's normal path.
    */
  private[plans] def catalogRoot(session: SparkSession,
      parts: Seq[String]): Option[String] = {
    val ident = parts match {
      case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
      // db may legitimately BE `txlog`: txlogTarget already ceded any
      // identifier that resolves to a real catalog table there, so a
      // txlog-provider table inside a database named txlog gets its
      // DML routed like any other named table.
      case Seq(db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case _ => return None
    }
    try {
      val cat = session.sessionState.catalog
      if (cat.isTempView(parts) || !cat.tableExists(ident)) None
      else {
        val meta = cat.getTableMetadata(ident)
        if (!meta.provider.exists(_.equalsIgnoreCase("txlog"))) None
        else meta.storage.properties.get("path")
          .orElse(meta.storage.locationUri.map(_.toString))
          .map { raw =>
            val uri = try java.net.URI.create(raw)
              catch { case scala.util.control.NonFatal(_) => null }
            if (uri == null || uri.getScheme == null) raw else uri.getPath
          }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[txlogTarget]] extended with catalog-name resolution — used for
    * the statements Spark CANNOT execute natively on a V1 table
    * (MERGE/UPDATE/DELETE/time travel). Plain reads and INSERT INTO on
    * named tables stay on Spark's own resolution (they already work).
    */
  private def dmlTarget(session: SparkSession,
      plan: LogicalPlan): Option[(String, Option[String])] =
    txlogTarget(session, plan).orElse(plan match {
      case SubqueryAlias(id, child) =>
        dmlTarget(session, child).map { case (p, _) => (p, Some(id.name)) }
      case u: UnresolvedRelation =>
        catalogRoot(session, u.multipartIdentifier)
          .orElse(v2CatalogRoot(session, u.multipartIdentifier))
          .map((_, None))
      case _ => None
    })

  /** `catalog.ns….table` identifiers whose HEAD names a registered
    * [[graft.sources.TxLogCatalog]] resolve to the table's directory —
    * MERGE/UPDATE/DELETE/time travel work on persistent-catalog names
    * exactly like on session-catalog ones. Temp views cannot shadow a
    * multi-part catalog-qualified name, and a head that isn't a
    * TxLogCatalog answers None (Spark's normal path).
    */
  private[plans] def v2CatalogRoot(session: SparkSession,
      parts: Seq[String]): Option[String] =
    if (parts.length < 2) None
    else org.apache.spark.sql.graft.bridge
      .catalogPlugin(session, parts.head) match {
      case Some(c: graft.sources.TxLogCatalog) => c.tableDir(parts.tail)
      case _ => None
    }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"txlog SQL: $msg")

  /** Requalify `alias.col` references to the canonical `t`/`s`
    * aliases [[TxLogTable.mergeConditional]] evaluates clause
    * conditions under, then render back to SQL text.
    */
  private def clauseSql(e: Expression, tAlias: Option[String],
      sAlias: Option[String]): String =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          tAlias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(Seq("t", a.nameParts.last))
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          sAlias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(Seq("s", a.nameParts.last))
    }.sql

  /** Drop the target qualifier from single-table DML expressions
    * (UPDATE/DELETE conditions and assignment values run over the
    * bare snapshot frame).
    */
  private def bareSql(e: Expression, alias: Option[String]): String =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          alias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }.sql

  /** Equi-key columns of a MERGE ON condition: a conjunction of
    * `t.k = s.k` (either order; bare `k = k` accepted too). Anything
    * else is not expressible as the key-join merge and fails loudly.
    */
  private def keysOf(cond: Expression, tAlias: Option[String],
      sAlias: Option[String]): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def side(a: UnresolvedAttribute): Option[String] =
      if (a.nameParts.length >= 2) {
        if (tAlias.exists(_.equalsIgnoreCase(a.nameParts.head))) Some("t")
        else if (sAlias.exists(_.equalsIgnoreCase(a.nameParts.head))) Some("s")
        else None
      } else None
    conjuncts(cond).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
          if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) &&
            ((side(l), side(r)) match {
              case (Some(a), Some(b)) => a != b
              case (None, None) =>
                l.nameParts.length == 1 && r.nameParts.length == 1
              case _ => false
            }) =>
        l.nameParts.last
      case other => fail(
        s"MERGE ON must be a conjunction of t.key = s.key equalities; " +
          s"got: ${other.sql}")
    }
  }

  /** Resolve a TIMESTAMP AS OF expression to epoch millis. */
  private def tsMillis(e: Expression): Long = e match {
    case Literal(v, StringType) =>
      val s = v.toString
      if (s.matches("-?\\d+")) s.toLong
      else try java.time.Instant.parse(s).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
    case Literal(v, TimestampType) => v.asInstanceOf[Long] / 1000L
    case other => fail(
      s"TIMESTAMP AS OF needs a literal timestamp, got ${other.sql}")
  }

  /** Pass 2: plain `txlog.`path`` references in any SELECT context
    * become the current snapshot's analyzed read plan. Spark's own
    * SQL-on-file resolution (`parquet.`path``) covers only FileFormat
    * sources — a V1 RelationProvider is rejected with
    * UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY — so the substitution
    * happens here, at the same place the snapshot-pinning DataFrame
    * API does it. Runs AFTER the command pass: DML/insert targets were
    * already lifted into commands, so every surviving reference is a
    * read.
    */
  private def rewriteReads(session: SparkSession,
      plan: LogicalPlan): LogicalPlan =
    plan transformUp {
      case u: UnresolvedRelation
          if !u.isStreaming && txlogTarget(session, u).isDefined =>
        val (root, _) = txlogTarget(session, u).get
        val table = new TxLogTable(session, root)
        require(table.exists, s"txlog table does not exist at $root")
        // route through the registered V2 source, not a raw snapshot
        // read: SQL readers then get the same manifest file skipping,
        // Spark-native runtime filtering, CBO statistics, and LIMIT
        // pushdown the DataFrame path has
        session.read.format("txlog").load(root).queryExecution.analyzed
    }

  def apply(session: SparkSession, plan: LogicalPlan): LogicalPlan =
    rewriteReads(session, plan transformUp {
      // INSERT INTO / INSERT OVERWRITE txlog.`p` <query> — positional
      // (or byName) column semantics, routed to append/overwrite; the
      // command captures the query BEFORE read-rewriting so its own
      // txlog references still resolve through rewriteReads below.
      case i: InsertIntoStatement if txlogTarget(session, i.table).isDefined =>
        val (root, _) = txlogTarget(session, i.table).get
        if (i.partitionSpec.nonEmpty)
          fail("INSERT ... PARTITION is not supported (use sortCols)")
        if (i.userSpecifiedCols.nonEmpty)
          fail("INSERT with an explicit column list is not supported")
        GraftInsertCommand(root, rewriteReads(session, i.query),
          i.overwrite, i.byName)
      // time travel: SELECT ... FROM txlog.`p` VERSION/TIMESTAMP AS OF x
      case tt @ RelationTimeTravel(rel, ts, ver)
          if dmlTarget(session, rel).isDefined =>
        val (root, _) = dmlTarget(session, rel).get
        val table = new TxLogTable(session, root)
        val version = ver match {
          case Some(v) => v.toLong
          case None => table.versionAsOf(tsMillis(ts.getOrElse(
            fail("time travel needs VERSION AS OF or TIMESTAMP AS OF"))))
        }
        // the V2 source pins the snapshot via the versionAsOf option —
        // same pruned/filterable scan shape as current-version reads
        session.read.format("txlog")
          .option("versionAsOf", version.toString).load(root)
          .queryExecution.analyzed

      case m: MergeIntoTable if dmlTarget(session, m.targetTable).isDefined =>
        val (root, tAlias) = dmlTarget(session, m.targetTable).get
        val (srcPlan, sAlias) = m.sourceTable match {
          case SubqueryAlias(id, child) => (child, Some(id.name))
          case other => (other, None)
        }
        if (m.notMatchedBySourceActions.nonEmpty)
          fail("WHEN NOT MATCHED BY SOURCE is not supported")
        val keys = keysOf(m.mergeCondition, tAlias, sAlias)
        if (keys.isEmpty) fail("MERGE ON produced no key columns")
        def cSql(c: Option[Expression]): Option[String] =
          c.map(clauseSql(_, tAlias, sAlias))
        val matched: Seq[TxLogTable.MergeClause] = m.matchedActions.map {
          case UpdateStarAction(c) => TxLogTable.MatchedUpdate(cSql(c))
          case u: UpdateAction if u.fromStar =>
            TxLogTable.MatchedUpdate(cSql(u.condition))
          case DeleteAction(c) => TxLogTable.MatchedDelete(cSql(c))
          case other => fail(
            s"unsupported WHEN MATCHED action $other — use UPDATE SET * or DELETE")
        }
        val (insert, insertCond) = m.notMatchedActions match {
          case Nil => (false, None)
          case Seq(InsertStarAction(c)) => (true, cSql(c))
          case Seq(i: InsertAction) if i.assignments.isEmpty => (true, cSql(i.condition))
          case other => fail(
            s"unsupported WHEN NOT MATCHED action(s) $other — use INSERT *")
        }
        GraftMergeCommand(root, rewriteReads(session, srcPlan), keys,
          matched, insert, insertCond, m.withSchemaEvolution)

      case u: UpdateTable if dmlTarget(session, u.table).isDefined =>
        val (root, alias) = dmlTarget(session, u.table).get
        val sets = u.assignments.map { a =>
          val name = a.key match {
            case k: UnresolvedAttribute => k.nameParts.last
            case other => fail(s"unsupported assignment target ${other.sql}")
          }
          name -> bareSql(a.value, alias)
        }
        GraftUpdateCommand(root, sets,
          u.condition.map(bareSql(_, alias)))

      case d: DeleteFromTable if dmlTarget(session, d.table).isDefined =>
        val (root, alias) = dmlTarget(session, d.table).get
        GraftDeleteCommand(root, Option(d.condition)
          .filterNot(_ == Literal.TrueLiteral).map(bareSql(_, alias)))
    })
}

/** Shared bits of the three DML commands: each `run` is one
  * optimistic commit through the already-oracled TxLogTable primitive
  * and returns the committed version (the statement's result row).
  * All plan/expression payload is carried as PLAIN DATA (SQL strings,
  * names) so the analyzer treats the command as a resolved leaf — the
  * expressions resolve at run time against the frames they actually
  * apply to, exactly as the Scala API does.
  */
sealed trait GraftTxLogCommand extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
}

/** MERGE [WITH SCHEMA EVOLUTION] INTO txlog.`root` routed to
  * [[TxLogTable.mergeConditional]] — the evolution flag is Spark's
  * own grammar, carried through verbatim.
  */
case class GraftMergeCommand(root: String, source: LogicalPlan,
    keys: Seq[String], matched: Seq[TxLogTable.MergeClause],
    insert: Boolean, insertCond: Option[String],
    withSchemaEvolution: Boolean = false)
    extends GraftTxLogCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val t = new TxLogTable(sparkSession, root)
    val src = bridge.ofRows(sparkSession, source)
    val v = t.mergeConditional(src, keys, whenMatched = matched,
      insertWhenNotMatched = insert, notMatchedCondition = insertCond,
      withSchemaEvolution = withSchemaEvolution)
    Seq(Row(v))
  }
}

/** UPDATE txlog.`root` routed to [[TxLogTable.update]]. */
case class GraftUpdateCommand(root: String, sets: Seq[(String, String)],
    condition: Option[String]) extends GraftTxLogCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val t = new TxLogTable(sparkSession, root)
    val v = t.update(condition.map(expr).getOrElse(lit(true)),
      sets.map { case (k, sql) => k -> expr(sql) }.toMap)
    Seq(Row(v))
  }
}

/** INSERT INTO / INSERT OVERWRITE txlog.`root` routed to
  * [[TxLogTable.append]] / [[TxLogTable.overwrite]]. Positional
  * semantics (SQL INSERT): the query's columns map to the table
  * schema by position and cast to its types; `byName` maps by name
  * instead (INSERT INTO ... BY NAME).
  *
  * Conformance honors `spark.sql.storeAssignmentPolicy` exactly like
  * a native INSERT: ANSI (the default) fails at runtime on
  * overflow/malformed values instead of silently wrapping/nulling;
  * LEGACY keeps the permissive cast; STRICT rejects any potentially
  * lossy cast at planning. Source columns are referenced by their
  * analyzed output ATTRIBUTES, not by name, so duplicate and
  * backtick-containing column names conform correctly.
  */
case class GraftInsertCommand(root: String, query: LogicalPlan,
    overwrite: Boolean, byName: Boolean) extends GraftTxLogCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    val t = new TxLogTable(sparkSession, root)
    require(t.exists, s"txlog table does not exist at $root")
    val src = bridge.ofRows(sparkSession, query)
    val schema = t.schemaAt(t.currentVersion)
    val attrs = src.queryExecution.analyzed.output
    val policy = sparkSession.conf
      .get("spark.sql.storeAssignmentPolicy", "ANSI").toUpperCase
    def conform(a: Attribute,
        f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = {
      if (policy == "STRICT" && !Cast.canUpCast(a.dataType, f.dataType))
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3065",
          messageParameters = Map("clazz" -> "GraftInsertCommand",
            "msg" -> (s"cannot safely cast ${a.name}: " +
              s"${a.dataType.simpleString} to ${f.dataType.simpleString} " +
              "under STRICT store assignment")))
      val mode =
        if (policy == "LEGACY") EvalMode.LEGACY else EvalMode.ANSI
      bridge.column(Cast(a, f.dataType, None, mode)).as(f.name)
    }
    val conformed =
      if (byName) {
        val cols = schema.fields.toIndexedSeq.map { f =>
          attrs.filter(_.name.equalsIgnoreCase(f.name)) match {
            case Seq(a) => conform(a, f)
            case Seq() => throw new IllegalArgumentException(
              s"INSERT BY NAME lacks column: ${f.name}")
            case _ => throw new IllegalArgumentException(
              s"INSERT BY NAME source has ambiguous column: ${f.name}")
          }
        }
        src.select(cols: _*)
      } else {
        require(attrs.length == schema.length,
          s"INSERT arity mismatch: query has ${attrs.length} " +
            s"columns, table has ${schema.length}")
        src.select(attrs.toIndexedSeq.zip(schema.fields).map {
          case (a, f) => conform(a, f)
        }: _*)
      }
    val v = if (overwrite) t.overwrite(conformed) else t.append(conformed)
    Seq(Row(v))
  }
}

/** DELETE FROM txlog.`root` routed to [[TxLogTable.delete]]. */
case class GraftDeleteCommand(root: String, condition: Option[String])
    extends GraftTxLogCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val t = new TxLogTable(sparkSession, root)
    val v = t.delete(condition.map(expr).getOrElse(lit(true)))
    Seq(Row(v))
  }
}

/** DESCRIBE HISTORY txlog.`root` — the commit log, newest first, with
  * each commit's operation metrics (null where the commit recorded
  * none).
  */
case class GraftHistoryCommand(target: Either[String, Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("action", StringType, nullable = false)(),
    AttributeReference("timestamp_millis", LongType, nullable = false)(),
    AttributeReference("operation_metrics",
      org.apache.spark.sql.types.MapType(StringType, LongType,
        valueContainsNull = false), nullable = true)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val t = new TxLogTable(sparkSession,
      GraftSqlRewrite.resolveTarget(sparkSession, target))
    t.history().reverse.map {
      case (v, action, ts) => Row(v, action, ts, t.metricsAt(v).orNull)
    }
  }
}

/** DESCRIBE DETAIL txlog.`root` — one snapshot-summary row (the Delta
  * idiom): current version, live file count, on-disk bytes, exact row
  * count when every file carries stats (else null), and the reader
  * protocol this snapshot requires.
  */
case class GraftDetailCommand(target: Either[String, Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = true)(),
    AttributeReference("min_reader", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("clustering", StringType, nullable = true)(),
    AttributeReference("num_partitions", LongType, nullable = true)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val root = GraftSqlRewrite.resolveTarget(sparkSession, target)
    val t = new TxLogTable(sparkSession, root)
    require(t.exists, s"txlog table does not exist at $root")
    val v = t.currentVersion
    // file census through the table's own store FileSystem (any
    // scheme); protocol = what the manifest's features actually
    // require (DVs → 2, column mapping → 3, dropped-column
    // tombstones → 4, file-granular live entries → 5)
    val files = t.detailFileBytes(v)
    val rows = t.statsSummaryAt(v).map(_._1)
    // clustering metadata (PARTITIONED BY): the declared columns and,
    // when the layout fully censuses, the exact partition-value count
    // — all from the manifest, zero file opens
    val cluster = t.marker("clusterBy")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    val nParts: Option[Long] = cluster.flatMap { cols =>
      t.censusSplitAt(v, cols, Nil, Nil, Nil) match {
        case Some((groups, stragglers)) if stragglers.isEmpty =>
          Some(groups.size.toLong)
        case _ => None
      }
    }
    Seq(Row(v, files.size.toLong, files.map(_._2).sum,
      rows.map(java.lang.Long.valueOf).orNull, t.requiredReaderAt(v),
      cluster.map(_.mkString(",")).orNull,
      nParts.map(java.lang.Long.valueOf).orNull))
  }
}

/** SHOW PARTITIONS on a PARTITIONED BY txlog table — answered from
  * the manifest census when every live file is partition-constant
  * (the native-write layout): one metadata fold, ZERO file opens,
  * hive-style `c=v[/c2=v2]` rows. Straggler files (a pre-partitioning
  * append) fall back to a distinct scan of the partition columns —
  * same rows, real read. Non-partitioned tables reject loudly
  * (Spark's own SHOW PARTITIONS contract).
  */
case class GraftShowPartitionsCommand(target: Either[String, Seq[String]],
    fallback: Option[() => LogicalPlan] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    // Spark's own grammar speaks SHOW PARTITIONS too: a target that
    // is NOT a txlog table keeps Spark's native behavior
    val rootOpt = target match {
      case Left(path) => Some(path)
      case Right(parts) =>
        GraftSqlRewrite.catalogRoot(sparkSession, parts)
          .orElse(GraftSqlRewrite.v2CatalogRoot(sparkSession, parts))
    }
    val root = rootOpt.getOrElse {
      fallback match {
        case Some(parse) =>
          return bridge.ofRows(sparkSession, parse()).collect().toSeq
        case None => GraftSqlRewrite.resolveTarget(sparkSession, target)
      }
    }
    val t = new TxLogTable(sparkSession, root)
    require(t.exists, s"txlog table does not exist at $root")
    val cols = t.marker("clusterBy")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(throw new UnsupportedOperationException(
        s"SHOW PARTITIONS is not allowed: table $root is not " +
          "partitioned (create it with PARTITIONED BY)"))
    val v = t.currentVersion
    val schema = t.schemaAt(v)
    val hiveNull = "__HIVE_DEFAULT_PARTITION__"
    def hive(vals: Seq[String]): String =
      cols.zip(vals).map { case (c, x) => s"$c=$x" }.mkString("/")
    t.censusSplitAt(v, cols, Nil, Nil, Nil) match {
      case Some((groups, stragglers)) if stragglers.isEmpty =>
        // decode the external stat spelling per column type: dates as
        // date literals, timestamps as datetime literals (Spark/Hive
        // SHOW PARTITIONS output, not the stat encoding)
        groups.map(g => hive(cols.zip(g.key).map { case (c, x) =>
          graft.sources.DataSkipping.externalToPartitionString(
            schema(schema.fieldIndex(c)).dataType, x)
        })).sorted.map(Row(_))
      case _ =>
        // stragglers: the census cannot prove the value set — run the
        // real distinct scan (same rows, file reads proportional to
        // the table); a NULL partition value prints the hive default
        // token
        val snap = t.readAt(v)
        snap.select(cols.map(snap.col): _*).distinct().collect().toSeq
          .map(r => cols.indices.map(i =>
            if (r.isNullAt(i)) hiveNull else String.valueOf(r.get(i))))
          .map(vals => hive(vals)).sorted.map(Row(_))
    }
  }

}

/** VACUUM txlog.`root` [FULL] [RETAIN n HOURS] [DRY RUN] — orphan
  * sweep; FULL also collects dirs only pre-checkpoint/overwrite
  * history references; RETAIN overrides the default 1-hour
  * concurrent-writer age guard; DRY RUN reports the exact removal
  * list without touching storage (the operator's pre-flight — Delta's
  * VACUUM ... DRY RUN contract).
  */
case class GraftVacuumCommand(target: Either[String, Seq[String]],
    full: Boolean,
    retainHours: Option[Long],
    dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("removed", StringType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    new TxLogTable(sparkSession,
        GraftSqlRewrite.resolveTarget(sparkSession, target))
      .vacuum(retainHistory = !full,
        minAgeMillis = retainHours.map(_ * 3600L * 1000L)
          .getOrElse(3600L * 1000L),
        dryRun = dryRun)
      .map(Row(_))
}

/** OPTIMIZE txlog.`root` [WHERE cond] [ZORDER BY (cols)]
  * [INTO n FILES] — the compaction pass as a statement: plain →
  * row-balanced [[TxLogTable.compact]]; ZORDER →
  * [[TxLogTable.compactZOrdered]] with per-file stats on the cluster
  * columns (what makes readWhere pruning bite afterwards); WHERE →
  * INCREMENTAL [[TxLogTable.compactIncremental]] scoped to the files
  * provably inside the predicate (file-constant columns — Delta's
  * `OPTIMIZE … WHERE`), everything else carried forward verbatim.
  * `spark.graft.txlog.optimize.minFileBytes` additionally restricts
  * any OPTIMIZE to the small-file tail. Default file count = the
  * session's default parallelism.
  */
case class GraftOptimizeCommand(target: Either[String, Seq[String]],
    zorderCols: Seq[String],
    numFiles: Option[Int],
    where: Option[String] = None) extends GraftTxLogCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    require(where.isEmpty || zorderCols.isEmpty,
      "OPTIMIZE ... WHERE cannot combine with ZORDER BY (scope the " +
        "zorder pass with a full OPTIMIZE ZORDER, or compact " +
        "incrementally without reclustering)")
    val t = new TxLogTable(sparkSession,
      GraftSqlRewrite.resolveTarget(sparkSession, target))
    val n = numFiles.getOrElse(
      sparkSession.sparkContext.defaultParallelism)
    val minBytes = sparkSession.conf
      .getOption("spark.graft.txlog.optimize.minFileBytes")
      .map(_.toLong).getOrElse(Long.MaxValue)
    val v =
      if (zorderCols.nonEmpty)
        t.compactZOrdered(zorderCols, numFiles = n, statsCols = zorderCols)
      else if (where.isDefined || minBytes != Long.MaxValue) {
        val rows = math.max(1L, t.read().count())
        t.compactIncremental(
          targetRowsPerFile = math.max(1L, (rows + n - 1) / n),
          minFileBytes = minBytes,
          where = where.map(org.apache.spark.sql.functions.expr))
      } else {
        val rows = t.read().count()
        t.compact(targetRowsPerFile = math.max(1L, (rows + n - 1) / n))
      }
    Seq(Row(v))
  }
}

/** The same SQL surface for sessions built WITHOUT extensions: parse
  * with the session's own parser, apply [[GraftSqlRewrite]], execute.
  * This is byte-identical routing to the injected-parser path — the
  * production seam is spec-pinned on a `.withExtensions` session, and
  * the oracle gates drive this entry so they run under any session.
  */
object GraftSql {
  def sql(spark: SparkSession, text: String): org.apache.spark.sql.DataFrame =
    bridge.ofRows(spark,
      GraftSqlRewrite.maintenance(text,
          Some(() => GraftSqlRewrite(spark,
            spark.sessionState.sqlParser.parsePlan(text))))
        .getOrElse(GraftSqlRewrite(spark,
          spark.sessionState.sqlParser.parsePlan(text))))
}
