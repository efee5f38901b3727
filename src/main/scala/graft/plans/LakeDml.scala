package graft.plans

import graft.streaming.{LakeCatalog, LakeSink}

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL DML TEXT surface for the lake protocol: Spark's parser already
  * produces `DeleteFromTable` / `UpdateTable` / `MergeIntoTable`
  * logical nodes for the standard DML grammar — what a plain session
  * lacks is an execution path for tables outside a DSv2 catalog. This
  * rule (injected via [[graft.GraftExtensions]]) claims DML whose
  * target identifier is registered in [[LakeCatalog]] and rewrites the
  * node to a runnable command that dispatches to the copy-on-write
  * protocol op ([[LakeSink.deleteWhere]]/[[LakeSink.updateWhere]]/
  * [[LakeSink.mergeInto]]) — so `spark.sql("DELETE FROM lake_t WHERE
  * …")` is the protocol delete, crash windows and all. Unregistered
  * tables pass through untouched (normal analysis errors apply).
  *
  * Expressions cross from the parsed node into DataFrame-land via
  * their canonical SQL form (`Expression.sql` → `functions.expr`):
  * the statements this surface accepts are over the lake table's own
  * columns, which round-trip exactly; correlated subqueries in DML
  * predicates are out of scope and rejected by the re-parse.
  */
object LakeDml {

  /** Evaluate a foldable expression to epoch-microseconds: timestamps
    * directly, strings/dates through a session-timezone cast — the
    * coercion `TIMESTAMP AS OF '2026-01-01'` and timestamp-bounded
    * `table_changes` share. None if the expression is not
    * timestamp-like (callers then treat it as a version number). */
  private def tsMicrosOf(e: Expression): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{DateType, StringType, TimestampType}
    if (!e.foldable) return None
    e.dataType match {
      case TimestampType => Option(e.eval()).map(_.asInstanceOf[Long])
      case StringType | DateType =>
        val zone = SparkSession.active.sessionState.conf.sessionLocalTimeZone
        Option(Cast(e, TimestampType, Option(zone)).eval())
          .map(_.asInstanceOf[Long])
      case _ => None
    }
  }

  /** [[tsMicrosOf]] with an analysis error for non-timestamp input —
    * the `TIMESTAMP AS OF` coercion. */
  private[plans] def tsMicrosOfOrFail(spark: SparkSession,
      e: Expression): Long =
    tsMicrosOf(e).getOrElse(throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" ->
        s"TIMESTAMP AS OF requires a timestamp/string/date literal, got $e")))

  /** `table_changes('t', fromV, toV)` — the Delta CDF table-valued
    * function, registered via `injectTableFunction` (the analyzer's
    * ResolveFunctions resolves TVFs EAGERLY, before any extension
    * resolution rule runs, so a rewrite rule can never claim an
    * unregistered TVF name — registration is the only seam). The
    * builder resolves the named lake through [[LakeCatalog]] and
    * returns the change-data walk's analyzed plan; it composes as a
    * normal relation (filters, aggregates, joins). */
  def tableChanges(args: Seq[Expression]): LogicalPlan = {
    def bad(msg: String): Nothing = throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" -> s"table_changes: $msg"))
    if (args.length != 2 && args.length != 3)
      bad(s"expected (table, fromVersion[, toVersion]), got ${args.length} args")
    if (!args.forall(_.foldable)) bad("arguments must be literals")
    val name = Option(args.head.eval()).map(_.toString)
      .getOrElse(bad("table name must be a non-null string"))
    val dir = LakeCatalog.lookup(Seq(name))
      .getOrElse(bad(s"'$name' is not a registered lake table"))
    // Version bounds accept NUMBERS (manifest versions, as before) or
    // TIMESTAMPS (timestamp/string/date literals — Delta's
    // table_changes accepts either): a timestamp FROM-bound resolves
    // to "every change committed at or after the instant" (earliest
    // version with commit time ≥ ts, made exclusive-from), a TO-bound
    // to "as of the instant" (latest version with commit time ≤ ts).
    def boundArg(i: Int, isFrom: Boolean): Long =
      args(i).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          args(i).eval() match {
            case n: java.lang.Number => n.longValue()
            case other => bad(s"version argument must be numeric, got $other")
          }
        case _ => tsMicrosOf(args(i)) match {
          case Some(us) =>
            if (isFrom) LakeSink.firstVersionAtOrAfter(dir, us) - 1
            else LakeSink.versionAtOrBefore(dir, us)
          case None => bad("version bound must be a number or a " +
            s"timestamp, got ${args(i)}")
        }
      }
    // 2-arg form: toVersion defaults to the CURRENT committed tip
    // (Delta's table_changes(t, from) semantics) — resolved at
    // analysis time, so the plan reads a pinned version set
    val toV =
      if (args.length == 3) boundArg(2, isFrom = false)
      else LakeSink.readManifest(dir).version
    LakeSink.changesCdcBetween(SparkSession.active, dir,
      boundArg(1, isFrom = true), toV).queryExecution.analyzed
  }

  /** `table_history('t')` — DESCRIBE HISTORY as a TVF (the audit-log
    * read of [[LakeSink.history]]), registered the same way. */
  def tableHistory(args: Seq[Expression]): LogicalPlan = {
    def bad(msg: String): Nothing = throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" -> s"table_history: $msg"))
    if (args.length != 1) bad(s"expected (table), got ${args.length} args")
    if (!args.head.foldable) bad("table name must be a literal")
    val name = Option(args.head.eval()).map(_.toString)
      .getOrElse(bad("table name must be a non-null string"))
    val dir = LakeCatalog.lookup(Seq(name))
      .getOrElse(bad(s"'$name' is not a registered lake table"))
    LakeSink.history(SparkSession.active, dir).queryExecution.analyzed
  }
}

case class LakeDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def lakeDir(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(_, child) => lakeDir(child) // MERGE INTO t AS a
    case u: UnresolvedRelation => LakeCatalog.lookup(u.multipartIdentifier)
    case _ => None
  }

  /** The name a MERGE side is referenced by in clause expressions: its
    * explicit alias, else the bare relation name (qualified column
    * refs use one or the other). Unaliased subquery sources get None —
    * their columns can only be referenced unqualified. */
  private def aliasOf(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(id, _) => Some(id.name)
    case u: UnresolvedRelation => Some(u.multipartIdentifier.last)
    case _ => None
  }

  /** Table-level CDC property of a DML target (set at registration —
    * the `enableChangeDataFeed` analog): DML against such a table
    * records its change rows. */
  private def lakeCdc(p: LogicalPlan): Boolean = p match {
    case SubqueryAlias(_, child) => lakeCdc(child)
    case u: UnresolvedRelation => LakeCatalog.cdcEnabled(u.multipartIdentifier)
    case _ => false
  }

  /** Table-level merge-on-read threshold of a DML target (set at
    * registration or via `ALTER TABLE … SET TBLPROPERTIES
    * ('dv.maxFraction'='…')` — the `enableDeletionVectors` analog):
    * point UPDATE/DELETE/MERGE against such a table write deletion
    * vectors instead of copy-on-write rewrites. */
  private def lakeDvf(p: LogicalPlan): Double = p match {
    case SubqueryAlias(_, child) => lakeDvf(child)
    case u: UnresolvedRelation =>
      LakeCatalog.dvMaxFraction(u.multipartIdentifier)
    case _ => 0.0
  }

  /** Merge keys from an equi-conjunction `t.k = s.k [AND …]`; the
    * column name must match on both sides (same-name key contract of
    * [[LakeSink.mergeInto]]). */
  private def mergeKeys(cond: Expression): Option[Seq[String]] = {
    def leaf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(cond).map {
      case EqualTo(l, r) =>
        (leaf(l), leaf(r)) match {
          case (Some(a), Some(b)) if a.equalsIgnoreCase(b) => Some(a)
          case _ => None
        }
      case _ => None
    }
    if (keys.forall(_.isDefined)) Some(keys.flatten) else None
  }

  /** TOP-DOWN on purpose: DML nodes must be claimed BEFORE their
    * target `UnresolvedRelation` is substituted by the SELECT case
    * below (bottom-up would rewrite the target into a scan first and
    * the DML patterns would no longer match). Commands produced here
    * are leaves, so the traversal stops beneath them; a MERGE/INSERT
    * source plan is re-analyzed at run time, where this rule applies
    * again — lake tables compose as sources too. */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {

    case DeleteFromTable(target, cond) if lakeDir(target).isDefined =>
      LakeDeleteCommand(lakeDir(target).get, cond.sql, lakeCdc(target),
        lakeDvf(target))

    case UpdateTable(target, assignments, cond) if lakeDir(target).isDefined =>
      val pairs = assignments.map {
        case Assignment(k: UnresolvedAttribute, v) => k.nameParts.last -> v.sql
        case Assignment(k: AttributeReference, v) => k.name -> v.sql
        case other => throw new AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3100",
          messageParameters = Map("message" ->
            s"lake UPDATE: unsupported assignment target $other"))
      }
      LakeUpdateCommand(lakeDir(target).get, pairs,
        cond.map(_.sql).getOrElse("true"), lakeCdc(target),
        lakeDvf(target))

    case m: MergeIntoTable if lakeDir(m.targetTable).isDefined =>
      val dir = lakeDir(m.targetTable).get
      def bad(msg: String): Nothing = throw new AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3100",
        messageParameters = Map("message" -> msg))
      val starShape =
        m.matchedActions.forall {
          case UpdateStarAction(None) => true; case _ => false } &&
        m.matchedActions.size == 1 &&
        m.notMatchedActions.forall {
          case InsertStarAction(None) => true; case _ => false } &&
        m.notMatchedActions.size == 1 &&
        m.notMatchedBySourceActions.isEmpty
      val keys = mergeKeys(m.mergeCondition)
      if (keys.isEmpty || keys.get.isEmpty)
        bad("lake MERGE needs an ON clause of same-name equi-keys " +
          s"(t.k = s.k [AND …]); got: ${m.mergeCondition.sql}")
      // `MERGE WITH SCHEMA EVOLUTION INTO …` (Spark 4 syntax): route
      // through the clause form, which carries the evolution flag —
      // the star shape is exactly Update(None,None)/Insert(None,None).
      if (starShape && !m.withSchemaEvolution)
        LakeMergeCommand(dir, m.sourceTable, keys.get,
          lakeCdc(m.targetTable), lakeDvf(m.targetTable))
      else {
        // GENERAL clause set → [[LakeSink.mergeClauses]]. The parsed
        // conditions/assignments reference the statement's own aliases;
        // normalize them to the engine's `t` (target) / `s` (source)
        // before rendering to SQL text. Unqualified references pass
        // through — they resolve over the runtime join when unambiguous
        // and fail loud when not.
        val tAlias = aliasOf(m.targetTable)
        val sAlias = aliasOf(m.sourceTable)
        def norm(e: Expression): String = e.transformUp {
          case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
              tAlias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
            UnresolvedAttribute(Seq("t") ++ a.nameParts.tail)
          case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
              sAlias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
            UnresolvedAttribute(Seq("s") ++ a.nameParts.tail)
        }.sql
        def pairs(as: Seq[Assignment]): Seq[(String, String)] = as.map {
          case Assignment(k: UnresolvedAttribute, v) =>
            k.nameParts.last -> norm(v)
          case Assignment(k: AttributeReference, v) => k.name -> norm(v)
          case other => bad(s"lake MERGE: unsupported assignment $other")
        }
        def rw(a: MergeAction): LakeSink.MergeClause = a match {
          case UpdateStarAction(cond) =>
            LakeSink.MergeClause.Update(cond.map(norm), None)
          case UpdateAction(cond, as, _) =>
            LakeSink.MergeClause.Update(cond.map(norm), Some(pairs(as)))
          case DeleteAction(cond) =>
            LakeSink.MergeClause.Delete(cond.map(norm))
          case other => bad(s"lake MERGE: unsupported matched action $other")
        }
        def ins(a: MergeAction): LakeSink.MergeClause.Insert = a match {
          case InsertStarAction(cond) =>
            LakeSink.MergeClause.Insert(cond.map(norm), None)
          case InsertAction(cond, as) =>
            LakeSink.MergeClause.Insert(cond.map(norm), Some(pairs(as)))
          case other => bad(s"lake MERGE: unsupported not-matched action $other")
        }
        LakeMergeClausesCommand(dir, m.sourceTable, keys.get,
          m.matchedActions.map(rw), m.notMatchedActions.map(ins),
          m.notMatchedBySourceActions.map(rw), lakeCdc(m.targetTable),
          lakeDvf(m.targetTable), m.withSchemaEvolution)
      }

    // INSERT INTO <lake> <query> → one appended segment through the
    // manifest protocol. Positional column mapping + cast to the
    // table schema (standard INSERT coercion). INSERT OVERWRITE
    // (whole table, or a static PARTITION (c = v) slice) → the atomic
    // replaceWhere verb: delete + insert under ONE manifest commit.
    case ins: InsertIntoStatement if lakeDir(ins.table).isDefined =>
      if (!ins.overwrite) {
        if (ins.partitionSpec.nonEmpty)
          throw new AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_3100",
            messageParameters = Map("message" ->
              ("lake INSERT INTO takes no partition spec — a declared " +
                "partition column routes the append automatically")))
        LakeInsertCommand(lakeDir(ins.table).get, ins.query)
      } else {
        val static = ins.partitionSpec.toSeq.collect {
          case (k, Some(v)) => k -> v }
        val dynamic = ins.partitionSpec.toSeq.collect {
          case (k, None) => k }
        if (static.nonEmpty && dynamic.nonEmpty)
          throw new AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_3100",
            messageParameters = Map("message" ->
              ("lake INSERT OVERWRITE takes a fully-static partition " +
                "spec, one dynamic column, or none — not a mix")))
        LakeReplaceCommand(lakeDir(ins.table).get, ins.query,
          static.sortBy(_._1), dynamic, lakeCdc(ins.table),
          lakeDvf(ins.table))
      }

    // SELECT over a registered lake table: substitute the manifest
    // reader's analyzed plan — the lake becomes a first-class SQL
    // relation (reads are always a committed manifest version, never
    // a partial publish).
    case u: UnresolvedRelation if LakeCatalog.lookup(u.multipartIdentifier).isDefined =>
      val dir = LakeCatalog.lookup(u.multipartIdentifier).get
      LakeSink.readTable(spark, dir).queryExecution.analyzed

    // SELECT ... FROM <lake> VERSION AS OF <v> / TIMESTAMP AS OF <ts>:
    // time travel reads the exact segment set (and schema) that
    // version committed; a timestamp resolves through the manifest
    // log's commit times (latest version at or before the instant —
    // LakeSink.versionAtOrBefore, the Delta rule).
    case RelationTimeTravel(u: UnresolvedRelation, ts, version)
        if LakeCatalog.lookup(u.multipartIdentifier).isDefined =>
      val dir = LakeCatalog.lookup(u.multipartIdentifier).get
      val v = (version, ts) match {
        case (Some(n), None) => n.toLong
        case (None, Some(e)) => LakeDml.tsMicrosOfOrFail(spark, e) match {
          case us => LakeSink.versionAtOrBefore(dir, us)
        }
        case _ => throw new AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3100",
          messageParameters = Map("message" ->
            "lake time travel takes VERSION AS OF <n> or TIMESTAMP AS OF <ts>"))
      }
      LakeSink.readTableAsOf(spark, dir, v).queryExecution.analyzed
  }
}

/** `DELETE FROM <lake> WHERE <cond>` → [[LakeSink.deleteWhere]].
  * Returns the protocol op's receipt row. */
case class LakeDeleteCommand(dir: String, condSql: String,
    cdc: Boolean = false, dvMaxFraction: Double = 0.0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("segments_rewritten", IntegerType)(),
    AttributeReference("segments_dropped", IntegerType)(),
    AttributeReference("rows_deleted", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val (v, rw, dr, del) =
      LakeSink.deleteWhere(session, dir, expr(condSql), cdc = cdc,
        dvMaxFraction = dvMaxFraction)
    Seq(Row(v, rw, dr, del))
  }
}

/** `UPDATE <lake> SET … [WHERE …]` → [[LakeSink.updateWhere]]. */
case class LakeUpdateCommand(dir: String,
    assignments: Seq[(String, String)], condSql: String,
    cdc: Boolean = false, dvMaxFraction: Double = 0.0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("segments_rewritten", IntegerType)(),
    AttributeReference("rows_updated", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val (v, rw, upd) = LakeSink.updateWhere(session, dir, expr(condSql),
      assignments.map { case (k, sql) => k -> expr(sql) }.toMap,
      cdc = cdc, dvMaxFraction = dvMaxFraction)
    Seq(Row(v, rw, upd))
  }
}

/** `MERGE INTO <lake> USING <source> ON t.k = s.k WHEN MATCHED THEN
  * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` →
  * [[LakeSink.mergeInto]], the star clause pair of
  * [[LakeSink.mergeClauses]]; the receipt keeps its four columns (a
  * star merge deletes nothing). The source plan (table, view, or
  * subquery) is analyzed lazily at run time. */
case class LakeMergeCommand(dir: String, source: LogicalPlan,
    keys: Seq[String], cdc: Boolean = false,
    dvMaxFraction: Double = 0.0) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("segments_rewritten", IntegerType)(),
    AttributeReference("rows_updated", LongType)(),
    AttributeReference("rows_inserted", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graft.PlanBridge.ofRows(session, source)
    val (v, rw, upd, ins) =
      LakeSink.mergeInto(session, dir, src, keys, cdc = cdc,
        dvMaxFraction = dvMaxFraction)
    Seq(Row(v, rw, upd, ins))
  }
}

/** General MERGE (r12): the full clause set — conditional matched
  * UPDATE/DELETE, explicit-column INSERT, NOT MATCHED BY SOURCE —
  * translated by [[LakeDmlRule]] to [[LakeSink.mergeClauses]] clause
  * specs (conditions/assignments normalized to the engine's t/s
  * aliases and carried as SQL text). */
case class LakeMergeClausesCommand(dir: String, source: LogicalPlan,
    keys: Seq[String], matched: Seq[LakeSink.MergeClause],
    notMatched: Seq[LakeSink.MergeClause.Insert],
    notMatchedBySource: Seq[LakeSink.MergeClause],
    cdc: Boolean = false,
    dvMaxFraction: Double = 0.0,
    schemaEvolution: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("segments_rewritten", IntegerType)(),
    AttributeReference("rows_updated", LongType)(),
    AttributeReference("rows_deleted", LongType)(),
    AttributeReference("rows_inserted", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graft.PlanBridge.ofRows(session, source)
    val (v, rw, upd, del, ins) = LakeSink.mergeClauses(session, dir, src,
      keys, matched, notMatched, notMatchedBySource, cdc = cdc,
      dvMaxFraction = dvMaxFraction, schemaEvolution = schemaEvolution)
    Seq(Row(v, rw, upd, del, ins))
  }
}

/** `INSERT INTO <lake> <query>` → [[LakeSink.appendSegment]], or
  * [[LakeSink.appendPartitioned]] when the table declares a partition
  * spec — SQL writers get the partition layout (and the metadata-only
  * retention it buys) transparently, exactly how every lake format's
  * INSERT honors the table's partitioning without statement syntax.
  * Columns map positionally and are cast to the table schema (SQL
  * INSERT coercion); the appended segments therefore always match
  * the table's current schema generation. */
case class LakeInsertCommand(dir: String, source: LogicalPlan)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("rows_inserted", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val m = LakeSink.readManifest(dir)
    val schema = LakeSink.tableSchema(session, dir, m)
    val src = org.apache.spark.sql.graft.PlanBridge.ofRows(session, source)
    require(src.columns.length == schema.length,
      s"lake INSERT arity mismatch: query has ${src.columns.length} " +
        s"columns, table has ${schema.length}")
    // positional: rename first (duplicate query column names — e.g.
    // two identical literals — must not break by-name resolution)
    val aligned = src.toDF(schema.fieldNames.toIndexedSeq: _*)
      .select(schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    if (m.partSpec.isDefined) {
      val before = m.segs.toSet
      val (v, _) = LakeSink.appendPartitioned(session, dir, aligned)
      val after = LakeSink.readManifest(dir)
      val n = after.parts
        .filter { case (s, _) => !before(s) }.values.map(_.rows).sum
      Seq(Row(v, n))
    } else {
      val seg = f"seg_i${m.version + 1}%010d"
      val v = LakeSink.appendSegment(session, dir, aligned, seg)
      val n = session.read.parquet(s"$dir/$seg").count()
      Seq(Row(v, n))
    }
  }
}

/** `INSERT OVERWRITE <lake> [PARTITION (c [= v], …)] <query>` →
  * [[LakeSink.replaceWhere]]. A STATIC partition spec becomes the
  * replace predicate (`c = v AND …`) with the spec'd columns injected
  * into the incoming rows (SQL static-partition semantics: the query
  * supplies the REMAINING columns positionally). A DYNAMIC spec
  * (`PARTITION (c)` — Hive's dynamic-overwrite) replaces exactly the
  * partitions PRESENT in the incoming data: the query supplies the
  * remaining columns then the dynamic column LAST (Hive column
  * order), the predicate is `c IN (distinct incoming values)`
  * (NULL-partition included when present). No spec replaces the whole
  * table — the delete side is pure metadata in every case the layout
  * covers. */
case class LakeReplaceCommand(dir: String, source: LogicalPlan,
    static: Seq[(String, String)], dynamic: Seq[String] = Nil,
    cdc: Boolean = false, dvMaxFraction: Double = 0.0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("segments_rewritten", IntegerType)(),
    AttributeReference("segments_dropped", IntegerType)(),
    AttributeReference("rows_deleted", LongType)(),
    AttributeReference("rows_inserted", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    require(dynamic.size <= 1,
      "lake INSERT OVERWRITE supports one dynamic partition column")
    val m = LakeSink.readManifest(dir)
    val schema = LakeSink.tableSchema(session, dir, m)
    (static.map(_._1) ++ dynamic).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"INSERT OVERWRITE partition column '$c' is not a table column") }
    val specCols = static.map(_._1).toSet ++ dynamic
    // Hive column order: the query supplies non-spec columns, then
    // dynamic partition columns LAST; static values are injected.
    val rest = schema.fields.filterNot(f => specCols(f.name)) ++
      dynamic.map(c => schema(c))
    val src = org.apache.spark.sql.graft.PlanBridge.ofRows(session, source)
    require(src.columns.length == rest.length,
      s"lake INSERT OVERWRITE arity mismatch: query has " +
        s"${src.columns.length} columns, table needs ${rest.length} " +
        "(static partition columns are injected; a dynamic one comes " +
        "last in the query)")
    // positional: rename first (duplicate query column names — e.g.
    // two identical literals — must not break by-name resolution)
    val aligned = src.toDF(rest.map(_.name).toIndexedSeq: _*)
      .select(rest.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val withStatic = static.foldLeft(aligned) { case (d, (c, v)) =>
      d.withColumn(c, lit(v).cast(schema(c).dataType)) }
    val full = withStatic.select(
      schema.fieldNames.map(col).toIndexedSeq: _*).cache()
    try {
      val cond =
        if (dynamic.isEmpty)
          static.map { case (c, v) =>
            col(c) === lit(v).cast(schema(c).dataType) }
            .reduceOption(_ && _)
        else {
          // dynamic overwrite: replace exactly the incoming partitions
          // — one small distinct over the (cached) batch
          val c = dynamic.head
          val vals = full.select(col(c)).distinct().collect()
          val hasNull = vals.exists(_.isNullAt(0))
          val vs = vals.filterNot(_.isNullAt(0)).map(_.get(0)).toSeq
          val in =
            if (vs.isEmpty) None else Some(col(c).isin(vs: _*))
          val nullPred = if (hasNull) Some(col(c).isNull) else None
          (in, nullPred) match {
            case (Some(a), Some(b)) => Some(a || b)
            case (a, b) => a.orElse(b).orElse(
              // empty incoming batch: a dynamic overwrite of nothing
              // replaces nothing
              Some(lit(false)))
          }
        }
      val (v, rw, dr, del, ins) =
        LakeSink.replaceWhere(session, dir, full, cond, cdc = cdc,
          dvMaxFraction = dvMaxFraction)
      Seq(Row(v, rw, dr, del, ins))
    } finally full.unpersist()
  }
}
