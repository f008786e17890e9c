package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Dml, SequenceOps}

/** GPDB DDL dialect shim (SURVEY §3.4 / §7.3): accepts the MPP clauses of
  * `CREATE TABLE` — `DISTRIBUTED BY (cols)` / `DISTRIBUTED RANDOMLY` /
  * `DISTRIBUTED REPLICATED` (reference: src/include/catalog/gp_policy.h:99-124,
  * grammar src/backend/parser/gram.y) and storage options
  * `WITH (appendonly=…, orientation=…, compresstype=…, blocksize=…)`
  * (reference: src/backend/access/common/reloptions.c:1195) — and lowers
  * them onto Spark physics:
  *
  *  - hash distribution → `repartition(cols)` on write (HashPartitioning);
  *  - random            → round-robin `repartition(n)`;
  *  - replicated        → a broadcast hint at read time;
  *  - storage options   → Parquet writer options (AOCS ≈ Parquet; zlib/zstd
  *                        → parquet codec), otherwise recorded as table
  *                        properties (compatibility no-ops).
  */
object GpSqlDialect {

  final case class GpDdl(
      cleanSql: String,
      distributionCols: Seq[String],
      randomlyDistributed: Boolean,
      replicated: Boolean,
      storageOptions: Map[String, String])

  private val Ctas =
    "(?is)^\\s*CREATE\\s+TABLE\\s+(\\w+)\\s+AS\\s+(SELECT.*)$".r
  private val DistBy = "(?is)\\bDISTRIBUTED\\s+BY\\s*\\(([^)]*)\\)".r
  private val DistRandom = "(?is)\\bDISTRIBUTED\\s+RANDOMLY\\b".r
  private val DistRepl = "(?is)\\bDISTRIBUTED\\s+REPLICATED\\b".r
  private val WithOpts = "(?is)\\bWITH\\s*\\(([^)]*)\\)".r

  /** Split a GP CREATE TABLE into ANSI SQL + the MPP physical hints. */
  def parse(sql: String): GpDdl = {
    val cols = DistBy.findFirstMatchIn(sql)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val opts = WithOpts.findFirstMatchIn(sql)
      .map(_.group(1).split(",").flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k.trim.toLowerCase -> v.trim.toLowerCase)
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)
    val clean = Seq(DistBy, DistRandom, DistRepl, WithOpts)
      .foldLeft(sql)((s, re) => re.replaceAllIn(s, ""))
      .replaceAll("\\s+", " ").trim
    GpDdl(clean, cols,
      DistRandom.findFirstIn(sql).isDefined,
      DistRepl.findFirstIn(sql).isDefined, opts)
  }

  /** Parquet codec for a GP compresstype (zlib → gzip; quicklz has no
    * parquet analogue → snappy; none → uncompressed). */
  def parquetCodec(ddl: GpDdl): String =
    ddl.storageOptions.getOrElse("compresstype", "zstd") match {
      case "zlib" => "gzip"
      case "none" => "uncompressed"
      case "zstd" => "zstd"
      case _ => "snappy"
    }

  /** GP surfaces with no Spark analogue (SURVEY §7.3 documented gaps):
    * rejected loudly rather than silently misexecuted. */
  private val Unsupported: Seq[(scala.util.matching.Regex, String)] = Seq(
    "(?is)\\bFOR\\s+UPDATE\\b".r ->
      "FOR UPDATE row locks (no lock manager; Spark has no row locks)")

  def rejectUnsupported(sql: String): Unit =
    Unsupported.foreach { case (re, why) =>
      if (re.findFirstIn(sql).isDefined)
        throw new UnsupportedOperationException(s"graft does not support $why")
    }

  /** Execute a GP-dialect SQL string end-to-end (SURVEY §3 phase 2).
    * Dispatch:
    *  - `WITH RECURSIVE name AS (seed UNION [ALL] step) main` → semi-naive
    *    fixpoint via [[graft.operators.RecursiveCte]] (reference grammar:
    *    src/backend/parser/gram.y:12165, executor nodeRecursiveunion.c);
    *  - `CREATE [WRITABLE] EXTERNAL TABLE t (cols) LOCATION(...) FORMAT
    *    'CSV' [SEGMENT REJECT LIMIT n]` → [[graft.sources.ExternalTables]]
    *    (reference: src/include/catalog/pg_exttable.h:124);
    *  - `CREATE TABLE t (col defs) [WITH(...)] [DISTRIBUTED ...]
    *    [PARTITION BY RANGE|LIST (col) (...)]` → empty partitioned parquet
    *    table + catalog entry; GP's static partition spec list lowers onto
    *    Hive-style dynamic partition directories (reference:
    *    src/backend/parser/parse_partition.c);
    *  - `INSERT INTO t ...` for a catalog table → append write with the
    *    table's distribution + partitioning physics;
    *  - `CREATE TABLE t [WITH(...)] [DISTRIBUTED ...] AS SELECT ...` →
    *    CTAS with lowered physics;
    *  - anything else passes through `spark.sql` with GP clauses stripped.
    */
  def execute(
      spark: SparkSession, gpSql: String, basePath: String): DataFrame =
    // statement admission through the session role's resource queue
    // (queue.c resqueue lock at ExecutorStart); nested dialect calls
    // ride the already-held slot
    ResourceQueues.withSlot(spark) {
      executeWithStmtTriggers(spark, gpSql, basePath)
    }

  private def executeImpl(
      spark: SparkSession, gpSql: String, basePath: String): DataFrame = {
    rejectUnsupported(gpSql)
    if (CreateFunctionRe.findFirstIn(gpSql).isDefined)
      return executeCreateFunction(spark, gpSql)
    // CREATE/DROP AGGREGATE dispatch on the RAW text: a registered
    // name would otherwise be expanded by inlineSqlFunctions (the
    // `name(argtype)` header looks like a call site) on OR REPLACE
    CreateAggregateRe.findFirstMatchIn(gpSql) match {
      case Some(m) =>
        return executeCreateAggregate(spark,
          m.group(1).toLowerCase.replaceAll("^.*\\.", ""), gpSql.trim)
      case _ =>
    }
    DropAggregateRe.findFirstMatchIn(gpSql) match {
      case Some(m) =>
        val agg = m.group(1).toLowerCase.replaceAll("^.*\\.", "")
        deferredAggregates.remove(agg)
        sqlAggregates.remove(agg).foreach(_ => sqlFunctions.remove(agg))
        spark.sessionState.functionRegistry.dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(agg))
        return spark.emptyDataFrame
      case _ =>
    }
    if (CreatePlpgsqlRe.findFirstIn(gpSql).isDefined)
      return executeCreatePlpgsql(spark, gpSql)
    if (CreateProcedureRe.findFirstIn(gpSql).isDefined)
      return executeCreateProcedure(spark, gpSql)
    CallRe.findFirstMatchIn(gpSql) match {
      case Some(m) => return executeCall(spark, m.group(1), m.group(2),
        basePath)
      case _ =>
    }
    DoBlockRe.findFirstMatchIn(gpSql) match {
      case Some(m) =>
        runPlBlock(spark, m.group(2), basePath)
        return spark.emptyDataFrame
      case _ =>
    }
    rejectDeferredCalls(gpSql)
    // `pg_catalog.` qualifications drop up front (set_config, setval,
    // to_char... are all reimplemented under their bare names) — dumps
    // qualify every call after set_config('search_path', '', false)
    val trimmed = resolveSchemas(rewriteExpressions(inlineSqlFunctions(
      SqlLex.mapCode(gpSql.trim)(
        _.replaceAll("(?i)\\bpg_catalog\\.", "")))))
    if (WithRecursiveStart.findFirstIn(trimmed).isDefined)
      return executeWithRecursive(spark, trimmed)
    if (ExternalStart.findFirstIn(trimmed).isDefined)
      return executeCreateExternal(spark, trimmed, basePath)
    CopyFromRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCopyFrom(spark, m.group(1), m.group(2), m.group(3))
      case _ =>
    }
    CopyToRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCopyTo(spark,
          Option(m.group(1)), Option(m.group(2)), m.group(3), m.group(4))
      case _ =>
    }
    ReadErrorLogRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        val t = catalog(m.group(1).toLowerCase)
        return graft.sources.ExternalTables.readErrorLog(
          spark, t.path + ".errlog", t.name)
      case _ =>
    }
    ExplainRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeExplain(spark, Option(m.group(1)), m.group(2), basePath)
      case _ =>
    }
    PrepareRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        prepared.put(m.group(1).toLowerCase, m.group(3))
        return spark.emptyDataFrame
      case _ =>
    }
    ExecutePrepRe.findFirstMatchIn(trimmed) match {
      case Some(m) if prepared.contains(m.group(1).toLowerCase) =>
        val args = Option(m.group(2)).map(_.split(",").toSeq)
          .getOrElse(Seq.empty).map(_.trim).filter(_.nonEmpty)
        return executePrepared(spark, m.group(1).toLowerCase, args, basePath)
      case _ =>
    }
    DeallocateRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        prepared.remove(m.group(1).toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }
    // contrib/tablefunc FROM-items: materialize the function result as
    // a temp view, splice the view name into the statement, re-dispatch
    CrosstabRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        val view = executeCrosstab(spark, m.group(1).replace("''", "'"),
          Option(m.group(2)).map(_.replace("''", "'")),
          m.group(3), m.group(4), basePath)
        return executeImpl(spark, trimmed.substring(0, m.start) +
          s"$view AS ${m.group(3)}" + trimmed.substring(m.end), basePath)
      case _ =>
    }
    ConnectbyRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        val view = executeConnectby(spark, m.group(1), m.group(2),
          m.group(3), m.group(4).replace("''", "'"), m.group(5).toInt,
          Option(m.group(6)).map(_.replace("''", "'")).getOrElse("~"),
          m.group(7), m.group(8))
        return executeImpl(spark, trimmed.substring(0, m.start) +
          s"$view AS ${m.group(7)}" + trimmed.substring(m.end), basePath)
      case _ =>
    }
    DblinkRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        val view = executeDblink(spark, m.group(1).replace("''", "'"),
          m.group(2).replace("''", "'"), m.group(3), m.group(4), basePath)
        return executeImpl(spark, trimmed.substring(0, m.start) +
          s"$view AS ${m.group(3)}" + trimmed.substring(m.end), basePath)
      case _ =>
    }
    CreateSeqRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCreateSequence(spark, m.group(1), m.group(2))
      case _ =>
    }
    DropSeqRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        SequenceOps.drop(m.group(1))
        return spark.emptyDataFrame
      case _ =>
    }
    SelectSeqFnRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeSequenceFn(spark, m.group(1).toLowerCase, m.group(2),
          Option(m.group(3)))
      case _ =>
    }
    BulkNextvalRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeBulkNextval(spark, m)
      case _ =>
    }
    CreateTriggerRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCreateTrigger(spark, m.group(1), m.group(2),
          m.group(3), m.group(5), Option(m.group(4)),
          parseTriggerArgs(m.group(6), m.group(1)))
      case _ =>
        CreateStmtTrigTransRe.findFirstMatchIn(trimmed) match {
          case Some(m) =>
            val items = TransItemRe.findAllMatchIn(m.group(5)).toSeq
              .map(i => i.group(1).toLowerCase -> i.group(2))
            if (items.map(_._1).distinct.length != items.length)
              throw new UnsupportedOperationException(
                s"trigger ${m.group(1)}: OLD/NEW TABLE may each be " +
                  "specified at most once")
            return executeCreateStmtTrigger(spark, m.group(1),
              m.group(2), m.group(3), m.group(4), m.group(6),
              oldTab = items.collectFirst { case ("old", n) => n },
              newTab = items.collectFirst { case ("new", n) => n })
          case _ =>
        }
        CreateStmtTriggerRe.findFirstMatchIn(trimmed) match {
          case Some(m) =>
            return executeCreateStmtTrigger(spark, m.group(1),
              m.group(2), m.group(3), m.group(4), m.group(5))
          case _ =>
        }
        CreateInsteadTriggerRe.findFirstMatchIn(trimmed) match {
          case Some(m) =>
            return executeCreateInsteadTrigger(spark, m.group(1),
              m.group(2), m.group(3), m.group(4))
          case _ =>
        }
        // any other trigger shape: loud reject, never misexecute
        if ("(?is)^\\s*CREATE\\s+(?:CONSTRAINT\\s+)?TRIGGER\\b".r
            .findFirstIn(trimmed).isDefined)
          throw new UnsupportedOperationException(
            "graft supports BEFORE INSERT/UPDATE ... FOR EACH ROW " +
              "[WHEN (cond)] row triggers, BEFORE/AFTER ... FOR EACH " +
              "STATEMENT triggers with straight-line DML bodies " +
              "(REFERENCING OLD/NEW TABLE transition tables included), " +
              "and INSTEAD OF INSERT/UPDATE/DELETE view triggers only " +
              "(AFTER ROW: use the CDC delta views; trigger arguments " +
              "have no set-based lowering)")
    }
    DropTriggerRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeDropTrigger(spark, m.group(1), m.group(2))
      case _ =>
    }
    DeclareCursorRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeDeclareCursor(spark, m.group(1), m.group(3), basePath,
          parallel = m.group(2) != null)
      case _ =>
    }
    FetchRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeFetch(spark, Option(m.group(1)), Option(m.group(2)),
          m.group(3))
      case _ =>
    }
    RetrieveRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeRetrieve(spark, m.group(1), m.group(2))
      case _ =>
    }
    CloseCursorRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCloseCursor(spark, m.group(1))
      case _ =>
    }
    AnalyzeRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeAnalyze(spark, m.group(1))
      case _ =>
    }
    CreateEnumRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        enums.put(m.group(1).toLowerCase,
          m.group(2).split(",").map(_.trim.stripPrefix("'").stripSuffix("'"))
            .filter(_.nonEmpty).toSeq)
        return spark.emptyDataFrame
      case _ =>
    }
    CreateTsDictRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCreateTsDict(spark, m.group(1), m.group(2),
          m.group(3))
      case _ =>
    }
    CreateTsConfigRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        // COPY = <existing config> clones its chain; PARSER = default
        // starts empty until an ALTER MAPPING fills it
        tsConfigs.put(m.group(1).toLowerCase,
          tsConfigs.getOrElse(m.group(2).toLowerCase, Seq.empty))
        return spark.emptyDataFrame
      case _ =>
    }
    AlterTsConfigRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        tsConfigs.put(m.group(1).toLowerCase,
          m.group(2).split(",").map(_.trim.toLowerCase)
            .filter(_.nonEmpty).toSeq)
        return spark.emptyDataFrame
      case _ =>
    }
    CreateCompositeRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        composites.put(m.group(1).toLowerCase,
          SqlLex.split(m.group(2), ',').map { f =>
            val sp = f.trim.indexWhere(_.isWhitespace)
            if (sp < 0) throw new IllegalArgumentException(
              s"composite type field needs a name and a type: '${f.trim}'")
            (f.trim.substring(0, sp), f.trim.substring(sp + 1).trim)
          })
        return spark.emptyDataFrame
      case _ =>
    }
    DropTypeRe.findFirstMatchIn(trimmed) match {
      case Some(m) if enums.contains(m.group(1).toLowerCase) ||
        composites.contains(m.group(1).toLowerCase) =>
        enums.remove(m.group(1).toLowerCase)
        composites.remove(m.group(1).toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }
    if (DeferredDdlNoopRe.findFirstIn(trimmed).isDefined)
      return spark.emptyDataFrame
    CreateDomainRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        domains.put(m.group(1).toLowerCase,
          GpDomain(m.group(2).trim, Option(m.group(3)), Option(m.group(4))))
        return spark.emptyDataFrame
      case _ =>
    }
    DropDomainRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        domains.remove(m.group(1).toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }
    // client connect probes: drivers issue these before the first real
    // query and parse the answers (fe-protocol version negotiation)
    VersionFnRe.findFirstMatchIn(trimmed) match {
      case Some(_) =>
        return spark.createDataFrame(
          java.util.List.of(Row(VersionString)),
          StructType(Seq(StructField("version", StringType))))
      case _ =>
    }
    SessionFnRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        val fn = m.group(1).toLowerCase
        val v =
          if (fn == "current_database") "graft"
          else ResourceQueues.sessionRole.getOrElse("graft")
        return spark.createDataFrame(java.util.List.of(Row(v)),
          StructType(Seq(StructField(fn, StringType))))
      case _ =>
    }
    // pg_dump / psql archive preamble compatibility: these appear in
    // every dump and must not abort a restore script
    CreateExtensionRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        extensions.add(m.group(1).replace("\"", "").toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }
    DropExtensionRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        extensions.remove(m.group(1).replace("\"", "").toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }
    if (OwnerToRe.findFirstIn(trimmed).isDefined ||
      AlterSeqOwnedRe.findFirstIn(trimmed).isDefined)
      return spark.emptyDataFrame // single-tenant: ownership is a no-op
    SetConfigRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeSetGuc(spark, m.group(1).toLowerCase, m.group(2))
      case _ =>
    }
    CreateResQueueRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        ResourceQueues.create(m.group(1), parseQueueOpts(m.group(2)))
        return spark.emptyDataFrame
      case _ =>
    }
    AlterResQueueRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        ResourceQueues.alter(m.group(1), parseQueueOpts(m.group(2)))
        return spark.emptyDataFrame
      case _ =>
    }
    DropResQueueRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        ResourceQueues.drop(m.group(1))
        return spark.emptyDataFrame
      case _ =>
    }
    CreateResGroupRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        // GP7 resource groups (resgroupcmds.c): CONCURRENCY plays the
        // active_statements role; cpu/memory knobs are recorded
        val opts = parseQueueOpts(m.group(2)).map {
          case ("concurrency", v) => "active_statements" -> v
          case kv => kv
        }
        ResourceQueues.create(m.group(1), opts)
        return spark.emptyDataFrame
      case _ =>
    }
    DropResGroupRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        ResourceQueues.drop(m.group(1))
        return spark.emptyDataFrame
      case _ =>
    }
    CreateRoleRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        ResourceQueues.createRole(m.group(1),
          RoleQueueOptRe.findFirstMatchIn(m.group(2)).map(_.group(1)))
        return spark.emptyDataFrame
      case _ =>
    }
    AlterRoleRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        RoleQueueOptRe.findFirstMatchIn(m.group(2)) match {
          case Some(q) if q.group(1).equalsIgnoreCase("none") =>
            ResourceQueues.unassignRole(m.group(1))
          case Some(q) => ResourceQueues.assignRole(m.group(1), q.group(1))
          case None => // other role attributes: compatibility no-op
        }
        return spark.emptyDataFrame
      case _ =>
    }
    DropRoleRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        ResourceQueues.dropRole(m.group(1))
        return spark.emptyDataFrame
      case _ =>
    }
    SetRoleNoneRe.findFirstMatchIn(trimmed) match {
      case Some(_) =>
        ResourceQueues.setRole(None)
        return spark.emptyDataFrame
      case _ =>
    }
    SetRoleRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        ResourceQueues.setRole(Some(m.group(1)))
        return spark.emptyDataFrame
      case _ =>
    }
    SetGucRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeSetGuc(spark, m.group(2).toLowerCase, m.group(3))
      case _ =>
    }
    ShowGucRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeShowGuc(spark, m.group(1).toLowerCase)
      case _ =>
    }
    ResetGucRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        gucs.remove(m.group(1).toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }
    CreateSchemaRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCreateSchema(spark, m.group(1).toLowerCase)
      case _ =>
    }
    DropSchemaRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeDropSchema(spark, m.group(1).toLowerCase,
          cascade = m.group(2) != null)
      case _ =>
    }
    RelSizeRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        // dbsize.c pg_total_relation_size: bytes on disk for the
        // relation — the backing parquet's content summary
        val t = catalog(m.group(1).toLowerCase)
        val p = new org.apache.hadoop.fs.Path(t.path)
        val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
        return spark.createDataFrame(
          java.util.List.of(Row(bytes)),
          StructType(Seq(StructField("size_bytes", LongType))))
      case _ =>
    }
    if (SkewViewRe.findFirstIn(trimmed).isDefined) {
      refreshSkewView(spark)
      refreshCatalogViews(spark)
      return spark.sql(rewriteCatalogNames(trimmed))
    }
    if ("(?i)\\bgp_bloat_diag\\b".r.findFirstIn(trimmed).isDefined) {
      refreshBloatView(spark)
      return spark.sql(rewriteCatalogNames(trimmed))
    }
    // gp_endpoints / gp_get_endpoints() (gp_parallel_retrieve_cursor):
    // rebuilt on demand from the live cursor spools
    if ("(?i)\\bgp_(?:get_)?endpoints\\b".r.findFirstIn(trimmed).isDefined) {
      refreshEndpointsView(spark)
      return spark.sql(rewriteCatalogNames(trimmed)
        .replaceAll("(?i)\\bgp_get_endpoints\\s*\\(\\s*\\)", "gp_endpoints"))
    }
    if (CatalogViewRe.findFirstIn(trimmed).isDefined) {
      refreshCatalogViews(spark)
      return spark.sql(rewriteCatalogNames(trimmed))
    }
    CreateMatViewRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCreateMatView(spark, m.group(1).toLowerCase,
          m.group(2), basePath)
      case _ =>
    }
    RefreshMatViewRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return refreshMatView(spark, m.group(1).toLowerCase, basePath)
      case _ =>
    }
    CreateViewRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCreateView(spark, m.group(1).toLowerCase,
          m.group(2), basePath)
      case _ =>
    }
    DropViewRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        spark.catalog.dropTempView(m.group(1).toLowerCase)
        sessionViews.remove(m.group(1).toLowerCase)
        viewDefs.remove(m.group(1).toLowerCase)
        Seq("insert", "update", "delete").foreach(ev =>
          viewInsteadTriggers.remove(s"${m.group(1).toLowerCase}/$ev"))
        return spark.emptyDataFrame
      case _ =>
    }
    DistinctOnRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeDistinctOn(spark, m.group(1), m.group(2), m.group(3),
          Option(m.group(4)))
      case _ =>
    }
    FetchTiesRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeFetchTies(spark, m.group(1), m.group(2),
          m.group(3).toInt)
      case _ =>
    }
    InsertDefaultsRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeInsertDefaults(spark, m.group(1).toLowerCase)
      case _ =>
    }
    MergeRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeMerge(spark, m.group(1).toLowerCase,
          Option(m.group(2)), m.group(3).toLowerCase, Option(m.group(4)),
          m.group(5), m.group(6))
      case _ =>
    }
    InsertConflictRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeInsertConflict(spark, m.group(1).toLowerCase,
          Option(m.group(2)).map(_.split(",").map(_.trim.toLowerCase)
            .filter(_.nonEmpty).toSeq),
          m.group(3), m.group(4), m.group(5))
      case _ =>
    }
    GrantRevokeRe.findFirstMatchIn(trimmed) match {
      case Some(_) => return spark.emptyDataFrame
      case _ =>
    }
    CreateIndexRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        indexes.put(m.group(1).toLowerCase,
          (m.group(2).toLowerCase, m.group(3).toLowerCase))
        return spark.emptyDataFrame
      case _ =>
    }
    DropIndexRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        indexes.remove(m.group(1).toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }
    if (TxnNoopRe.findFirstIn(trimmed).isDefined) return spark.emptyDataFrame
    if (RollbackRe.findFirstIn(trimmed).isDefined)
      throw new UnsupportedOperationException(
        "ROLLBACK: statements are individually atomic (copy-on-write " +
          "publish); there is no transaction to roll back")
    CommentOnRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        comments.put(s"${m.group(1).toLowerCase} ${m.group(2).toLowerCase}",
          m.group(3))
        return spark.emptyDataFrame
      case _ =>
    }
    InsertIntoStart.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeInsertInto(spark, m.group(1).toLowerCase,
          trimmed.substring(m.end),
          Option(m.group(2)).map(_.split(",").map(_.trim.toLowerCase)
            .filter(_.nonEmpty).toSeq))
      case Some(m)
          if viewInsteadTriggers.contains(
            s"${m.group(1).toLowerCase}/insert") =>
        return executeInsertInstead(spark, m.group(1).toLowerCase,
          trimmed.substring(m.end),
          Option(m.group(2)).map(_.split(",").map(_.trim.toLowerCase)
            .filter(_.nonEmpty).toSeq))
      case _ =>
    }
    RenameTableRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeRenameTable(spark, m.group(1).toLowerCase,
          m.group(2).toLowerCase)
      case _ =>
    }
    SetDistRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeSetDistributed(spark, m.group(1).toLowerCase,
          Option(m.group(2)).map(_.split(",").map(_.trim.toLowerCase)
            .filter(_.nonEmpty).toSeq),
          randomly = m.group(3) != null)
      case _ =>
    }
    SetSchemaRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        val target = m.group(2).toLowerCase
        require(schemas.contains(target),
          s"""schema "$target" does not exist""")
        val base = schemaOf(m.group(1).toLowerCase)._2
        return executeRenameTable(spark, m.group(1).toLowerCase,
          flatName(target, base))
      case _ =>
    }
    AlterColumnRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeAlterColumn(spark, m.group(1).toLowerCase,
          trimmed.substring(m.end(1)))
      case _ =>
    }
    AlterPartitionRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeAlterPartition(spark, m.group(1).toLowerCase,
          m.group(2).toUpperCase, m.group(3),
          Option(m.group(4)).map(_.toLowerCase))
      case _ =>
    }
    DropTableRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeDropTable(spark, m.group(1).toLowerCase,
          ifExists = m.group(0).toLowerCase.contains("if exists"))
      case _ =>
    }
    TruncateRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeTruncate(spark, m.group(1).toLowerCase)
      case _ =>
    }
    VacuumRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeVacuum(spark, m.group(1).toLowerCase)
      case _ =>
    }
    ClusterRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeCluster(spark, m.group(1).toLowerCase,
          m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case _ =>
    }
    DeleteUsingRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeDeleteUsing(spark, m.group(1).toLowerCase,
          Option(m.group(2)), m.group(3).toLowerCase, Option(m.group(4)),
          m.group(5))
      case _ =>
    }
    DeleteRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeDelete(spark, m.group(1).toLowerCase,
          Option(m.group(2)), Option(m.group(3)))
      case Some(m) if viewInsteadTriggers.contains(
          s"${m.group(1).toLowerCase}/delete") =>
        return executeDeleteInstead(spark, m.group(1).toLowerCase,
          Option(m.group(2)))
      case _ =>
    }
    UpdateFromRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeUpdateFrom(spark, m.group(1).toLowerCase, m.group(2),
          m.group(3), m.group(4))
      case _ =>
    }
    UpdateRe.findFirstMatchIn(trimmed) match {
      case Some(m) if catalog.contains(m.group(1).toLowerCase) =>
        return executeUpdate(spark, m.group(1).toLowerCase, m.group(2),
          Option(m.group(3)), Option(m.group(4)))
      case Some(m) if viewInsteadTriggers.contains(
          s"${m.group(1).toLowerCase}/update") =>
        return executeUpdateInstead(spark, m.group(1).toLowerCase,
          m.group(2), Option(m.group(3)))
      case _ =>
    }
    SelectIntoRe.findFirstMatchIn(trimmed) match {
      // an INTO inside a string literal is not an into_clause
      case Some(m) if SqlLex.isCode(trimmed, m.end(1)) =>
        // SELECT ... INTO t FROM ... (gram.y into_clause) ≡ CTAS — PG
        // itself rewrites it to CreateTableAs (createas.c)
        return execute(spark,
          s"CREATE TABLE ${m.group(2)} AS ${m.group(1)} ${m.group(3)}",
          basePath)
      case _ =>
    }
    CreateLikeRe.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        return executeCreateLike(spark, m.group(1).toLowerCase,
          m.group(2).toLowerCase, trimmed, basePath)
      case _ =>
    }
    val ddl = parse(stripPartitionBy(trimmed)._1)
    ddl.cleanSql match {
      case Ctas(name, select) =>
        // CTAS tables join the session catalog so later INSERT INTO /
        // COPY / partition maintenance address them like CREATE TABLE
        val t = createTableAs(spark, name.toLowerCase, ddl,
          spark.sql(select), s"$basePath/$name")
        catalog.put(t.name, t)
        val back = readTable(spark, t)
        val written = if (ddl.replicated) back.hint("broadcast") else back
        written.createOrReplaceTempView(name)
        written
      case other =>
        CreateWithCols.findFirstMatchIn(other) match {
          case Some(_) => executeCreateTable(spark, trimmed, basePath)
          case None => spark.sql(other)
        }
    }
  }

  // ---- phase 3: CREATE FUNCTION ... LANGUAGE SQL ---------------------

  /** A registered SQL-language function: parameter names (positional order,
    * also addressable as PG's `$1..$n`) and the body to expand. `scalarExpr`
    * bodies are bare `SELECT expr` (no FROM) and inline as `(expr)`; bodies
    * with a FROM inline as a parenthesised scalar subquery — exactly PG's
    * two inlining shapes (optimizer/util/clauses.c inline_function). */
  private final case class SqlFunction(
      params: Seq[String], body: String, scalarExpr: Boolean)

  private val sqlFunctions =
    scala.collection.concurrent.TrieMap.empty[String, SqlFunction]

  // PG split SRFs absent from Spark's registry (utils/adt/regexp.c
  // regexp_split_to_table/_to_array; varlena.c string_to_table/_to_array
  // take a LITERAL delimiter — \Q..\E regex-quotes it): pre-registered
  // as SQL-language bodies, inlined at call sites like any CREATE
  // FUNCTION ... LANGUAGE SQL, so they stay in whole-stage codegen.
  locally {
    sqlFunctions("regexp_split_to_table") = SqlFunction(
      Seq("str", "pat"), "explode(split(str, pat, -1))", scalarExpr = true)
    sqlFunctions("regexp_split_to_array") = SqlFunction(
      Seq("str", "pat"), "split(str, pat, -1)", scalarExpr = true)
    sqlFunctions("string_to_table") = SqlFunction(
      Seq("str", "delim"),
      "explode(split(str, concat('\\\\Q', delim, '\\\\E'), -1))",
      scalarExpr = true)
    sqlFunctions("string_to_array") = SqlFunction(
      Seq("str", "delim"),
      "split(str, concat('\\\\Q', delim, '\\\\E'), -1)", scalarExpr = true)
    // quote_literal / quote_ident (ruleutils.c): char(39)=' char(34)="
    // keeps the bodies free of string-escape ambiguity
    sqlFunctions("quote_literal") = SqlFunction(Seq("s"),
      "concat(char(39), replace(cast(s AS string), char(39), " +
        "concat(char(39), char(39))), char(39))", scalarExpr = true)
    sqlFunctions("quote_ident") = SqlFunction(Seq("s"),
      "concat(char(34), replace(cast(s AS string), char(34), " +
        "concat(char(34), char(34))), char(34))", scalarExpr = true)
  }

  private val CreateFunctionRe =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?FUNCTION\\s+(\\w+)\\s*" +
      "\\(([^)]*)\\)\\s*RETURNS\\s+.*?\\bAS\\s+\\$\\$(.*)\\$\\$\\s*" +
      "LANGUAGE\\s+SQL\\b.*$").r

  /** `CREATE [OR REPLACE] FUNCTION f(a type, ...) RETURNS type AS
    * $$ SELECT ... $$ LANGUAGE SQL` → register for call-site inlining
    * (reference: src/pl/ SQL-language functions; PG plans these by
    * substituting the body into the caller, which is what keeps them
    * inside whole-stage codegen here — no UDF, no serialization wall). */
  def executeCreateFunction(spark: SparkSession, gpSql: String): DataFrame = {
    val m = CreateFunctionRe.findFirstMatchIn(gpSql).getOrElse(
      throw new IllegalArgumentException(s"cannot parse CREATE FUNCTION: $gpSql"))
    val name = m.group(1).toLowerCase
    val params = SqlLex.split(m.group(2), ',').map { p =>
      val sp = p.indexWhere(_.isWhitespace)
      if (sp < 0) p else p.substring(0, sp)
    }
    val body = m.group(3).trim.stripSuffix(";").trim
    val SelectExpr = "(?is)^SELECT\\s+(.*)$".r
    val (stored, scalar) = body match {
      case SelectExpr(e) if SqlLex.keyword(body, "FROM") < 0 => (e.trim, true)
      case _ => (body, false)
    }
    sqlFunctions(name) = SqlFunction(params, stored, scalar)
    spark.emptyDataFrame
  }

  // ---- PL/pgSQL triage (reference: src/pl/plpgsql/src/pl_exec.c) ------
  //
  // A full PL/pgSQL interpreter (6.6k LoC of statement dispatch) is out
  // of scope, but real dumps are full of LANGUAGE plpgsql bodies, so the
  // surface degrades in tiers instead of dying on line one:
  //  1. `[DECLARE v t := e;...] BEGIN RETURN expr; END` — inlined like a
  //     SQL-language function (declared initializers substitute
  //     textually, PG's exec_assign_value for constant-foldable locals);
  //  2. `BEGIN IF c THEN RETURN e; [ELSIF...] [ELSE RETURN e;] END IF;
  //     END` — lowered to a CASE expression (the plpgsql IF ladder IS a
  //     CASE when every arm is a RETURN);
  //  2b. any chain of `v := expr;` assignments before the tier-1/2
  //     terminal — folded sequentially into one expression
  //     (exec_stmt_assign; a straight-line body IS an expression DAG);
  //  3. anything else — the CREATE is accepted and *recorded* with the
  //     first unsupported statement, exactly pg_dump's
  //     `check_function_bodies = off` contract (function bodies are not
  //     validated at CREATE time); CALLING the function later raises,
  //     loudly, with that recorded reason.

  private val CreatePlpgsqlRe =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?FUNCTION\\s+(\\w+)\\s*" +
      "\\(([^)]*)\\)\\s*RETURNS\\s+.*?\\bAS\\s+\\$(\\w*)\\$(.*)\\$\\3\\$\\s*" +
      "LANGUAGE\\s+plpgsql\\b.*$").r

  /** plpgsql functions accepted at CREATE but not executable: name →
    * first unsupported statement (the reason calling them raises). */
  private val deferredPlpgsql =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The recorded rejection reason for an unexecutable plpgsql fn. */
  def plpgsqlRejection(name: String): Option[String] =
    deferredPlpgsql.get(name.toLowerCase)

  private def rejectDeferredCalls(sql: String): Unit = {
    // DROP / re-CREATE of the deferred object mentions its name with a
    // paren but is not a call — those statements heal, not use. CREATE
    // TRIGGER ... EXECUTE FUNCTION f() likewise ATTACHES f, it does not
    // call it (a DML-bodied statement-trigger fn is row-deferred but
    // statement-attachable).
    if (("(?is)^\\s*(?:DROP\\b|CREATE\\s+(?:OR\\s+REPLACE\\s+)?" +
      "(?:AGGREGATE|TRIGGER)\\b)").r.findFirstIn(sql).isDefined) return
    deferredPlpgsql.foreach { case (name, why) =>
      if (s"(?i)(?<![\\w.])$name\\s*\\(".r.findFirstIn(sql).isDefined)
        throw new UnsupportedOperationException(
          s"function $name is LANGUAGE plpgsql with a body graft cannot " +
            s"inline (first unsupported statement: $why); only assignment " +
            "chains ending in RETURN / IF-RETURN ladders / RETURN QUERY / " +
            "accumulator FOR and FOREACH-ARRAY loops execute")
    }
    deferredAggregates.foreach { case (name, why) =>
      if (s"(?i)(?<![\\w.])$name\\s*\\(".r.findFirstIn(sql).isDefined)
        throw new UnsupportedOperationException(
          s"aggregate $name was accepted at CREATE but cannot run: $why")
    }
  }

  private val PlBodyRe =
    "(?is)^\\s*(?:DECLARE\\s+(.*?))?\\s*BEGIN\\s+(.*?)\\s*END\\s*;?\\s*$".r
  private val PlReturnRe = "(?is)^\\s*RETURN\\s+(.+?)\\s*;?\\s*$".r
  private val PlReturnQueryRe =
    "(?is)^\\s*RETURN\\s+QUERY\\s+(.+?)\\s*;?\\s*$".r
  // RETURN QUERY EXECUTE with a CONSTANT string (exec_stmt_dynexecute
  // with no parameters): the dynamic SQL is known at CREATE time, so it
  // inlines exactly like RETURN QUERY. '' unescapes to '. A USING
  // clause (runtime parameters) stays deferred.
  private val PlReturnQueryExecRe =
    "(?is)^\\s*RETURN\\s+QUERY\\s+EXECUTE\\s+'((?:[^']|'')*)'\\s*;?\\s*$".r
  // RETURN QUERY EXECUTE format('…', 'lit', …) with ALL-LITERAL
  // arguments — PG's dynamic-identifier idiom (stringfuncs.c
  // text_format). The format folds at CREATE time (%s raw, %I
  // identifier-quoted, %L literal-quoted, %% escape), so it inlines
  // exactly like the constant-string EXECUTE; any non-literal argument
  // fails the regex and stays on the deferral path.
  private val PlReturnQueryExecFmtRe =
    ("(?is)^\\s*RETURN\\s+QUERY\\s+EXECUTE\\s+format\\s*\\(\\s*" +
      "'((?:[^']|'')*)'\\s*((?:,\\s*'(?:[^']|'')*'\\s*)*)\\)\\s*;?\\s*$").r
  // RETURN QUERY EXECUTE '…$n…' USING e1, e2 (exec_stmt_dynexecute with
  // parameters): because functions inline at call sites, the USING
  // expressions substitute into the $n slots at CREATE time exactly
  // like PREPARE's parameter path — a USING arg referencing a function
  // parameter resolves when the CALL SITE inlines. Runtime-composed SQL
  // strings (variables holding query text) still defer.
  private val PlReturnQueryExecUsingRe =
    ("(?is)^\\s*RETURN\\s+QUERY\\s+EXECUTE\\s+'((?:[^']|'')*)'\\s+" +
      "USING\\s+(.+?)\\s*;?\\s*$").r
  // OPEN c [FOR query]; LOOP FETCH c INTO r; EXIT WHEN NOT FOUND; …
  // END LOOP; [CLOSE c;] RETURN e — pl_exec.c exec_stmt_open/
  // exec_stmt_fetch over a refcursor. The canonical fetch loop IS a
  // FOR-over-query loop (the cursor spools the bound query; the FETCH/
  // EXIT pair is the iterator protocol), so it lowers through the same
  // accumulator machinery: `OPEN c FOR sel` binds inline, bare `OPEN c`
  // resolves a DECLARE-bound cursor. Backward/positioned fetches and
  // cursors crossing statement boundaries stay deferred.
  private val PlOpenFetchRe =
    ("(?is)^\\s*OPEN\\s+(\\w+)(?:\\s+FOR\\s+(SELECT\\b.+?))?\\s*;\\s*" +
      "LOOP\\s+FETCH\\s+(?:(?:FORWARD|NEXT)\\s+(?:FROM\\s+)?)?\\1\\s+" +
      "INTO\\s+(\\w+)\\s*;\\s*EXIT\\s+WHEN\\s+NOT\\s+FOUND\\s*;\\s*" +
      "(.+?)\\s*END\\s+LOOP\\s*;?(?:\\s*CLOSE\\s+\\1\\s*;)?" +
      "(?:\\s*RETURN\\s+(.+?)\\s*;?)?\\s*$").r
  // statement-position dynamic EXECUTE in DO blocks / procedures
  private val PlExecStmtRe =
    ("(?is)^\\s*EXECUTE\\s+'((?:[^']|'')*)'" +
      "(?:\\s+USING\\s+(.+?))?\\s*;?\\s*$").r

  /** Fold PG format() with literal args; None = unsupported directive
    * (positional %1$s, width specs) → defer. */
  private def foldPgFormat(fmt: String, args: Seq[String]): Option[String] = {
    val sb = new StringBuilder
    var ai = 0
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%') {
        if (i + 1 >= fmt.length) return None
        fmt.charAt(i + 1) match {
          case '%' => sb += '%'
          case 's' =>
            if (ai >= args.length) return None
            sb ++= args(ai); ai += 1
          case 'I' =>
            if (ai >= args.length) return None
            val a = args(ai); ai += 1
            sb ++= (if (a.matches("[A-Za-z_][A-Za-z0-9_]*")) a
              else "`" + a.replace("`", "``") + "`")
          case 'L' =>
            if (ai >= args.length) return None
            sb ++= "'" + args(ai).replace("'", "''") + "'"; ai += 1
          case _ => return None
        }
        i += 2
      } else { sb += fmt.charAt(i); i += 1 }
    }
    Some(sb.toString)
  }
  private val PlIfRe =
    ("(?is)^\\s*IF\\s+.+?\\s+THEN\\s+RETURN\\s+.+?;" +
      "(\\s*ELSIF\\s+.+?\\s+THEN\\s+RETURN\\s+.+?;)*" +
      "(\\s*ELSE\\s+RETURN\\s+.+?;)?\\s*END\\s+IF\\s*;?\\s*$").r
  // tier 5: `... EXCEPTION WHEN division_by_zero THEN RETURN h` — the
  // ubiquitous safe-division function (pl_exec.c exec_stmt_block
  // exception section). A set-based engine cannot trap per-row errors,
  // but division_by_zero is STATICALLY guardable: the inlined RETURN
  // expression's top-level denominators get a `= 0` guard that selects
  // the handler BEFORE the division evaluates (CASE short-circuits).
  // NULL denominators fall to the expression arm — PG returns NULL for
  // NULL division without raising, so the truth tables agree. Handlers
  // for other conditions (no static guard exists) defer loudly.
  private val PlExcRe =
    ("(?is)^(.*?)\\s*EXCEPTION\\s+WHEN\\s+(\\w+)\\s+THEN\\s+" +
      "RETURN\\s+(.+?)\\s*;?\\s*$").r
  // tier 5c (r9): ONE level of nested BEGIN/EXCEPTION — pl_exec.c
  // exec_stmt_block:99 runs an inner block under its own exception
  // context; the ubiquitous migration shape is the per-row
  // "sub-transaction": `BEGIN v := e; EXCEPTION WHEN cond THEN
  // v := h; END;` embedded in a straight-line body. When the inner
  // try is a SINGLE assignment and its raise sites are statically
  // enumerable (the tier-5/5b guard machinery), the whole block IS
  // one conditional assignment `v := CASE WHEN <guards> THEN h
  // ELSE e END;` — evaluated set-based, guard selecting the handler
  // BEFORE any failing site evaluates. Deeper nesting, multi-
  // statement inner bodies, or unguardable conditions defer loudly.
  // try/handler bodies are SEQUENCES of `v := e;` assignments with
  // [^;]+ expressions (not lazy-any, so nothing backtracks across a
  // ';' into a fake shape; a ';' inside a string literal defers —
  // conservative). Any other inner-block statement fails the regex
  // and falls to the leftover-BEGIN check, which defers loudly.
  private val PlNestedBlockRe =
    ("(?is)BEGIN\\s+((?:\\w+\\s*:=\\s*[^;]+;\\s*)+)EXCEPTION\\s+WHEN" +
      "\\s+(\\w+)\\s+THEN\\s+((?:\\w+\\s*:=\\s*[^;]+;\\s*)+)END\\s*;").r

  /** Denominator operands of every TOP-LEVEL `/` in a scalar
    * expression (parens/strings respected; divisions nested inside
    * call arguments are NOT found — callers defer in that case rather
    * than guess). Operand = sign + identifier/number/parenthesized
    * group + trailing call/index groups, ending at whitespace or a
    * top-level operator. */
  private[graft] def topLevelDenominators(expr: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // '%' too: modulo by zero raises division_by_zero in PG just like
    // '/' (int4mod, numeric_mod)
    def nextDivMod(from: Int) = SqlLex.find(expr, from)((k, d) =>
      d == 0 && (expr.charAt(k) == '/' || expr.charAt(k) == '%'))
    var i = nextDivMod(0)
    while (i >= 0) {
      var j = i + 1
      while (j < expr.length && expr.charAt(j).isWhitespace) j += 1
      val start = j
      if (j < expr.length && (expr.charAt(j) == '-' ||
        expr.charAt(j) == '+')) j += 1
      var done = false
      while (j < expr.length && !done) {
        expr.charAt(j) match {
          case '(' | '[' =>
            val close = SqlLex.matchParen(expr, j)
            j = if (close < 0) expr.length else close + 1
          case c if c.isLetterOrDigit || c == '_' || c == '.' => j += 1
          case _ => done = true
        }
      }
      if (j > start) out += expr.substring(start, j)
      i = nextDivMod(j)
    }
    out.toSeq
  }

  /** True if the expression contains a `/` or `%` NESTED inside parens
    * (call arguments, parenthesized groups) — those denominators have
    * no extractable static guard, so WHEN-OTHERS lowering defers. */
  private[graft] def hasNestedDivMod(expr: String): Boolean =
    SqlLex.find(expr)((i, d) =>
      d > 0 && (expr.charAt(i) == '/' || expr.charAt(i) == '%')) >= 0

  /** Total functions (cannot raise in Spark OR PG for any input) —
    * the calls a WHEN-OTHERS body may contain without defeating the
    * static guard. log/sqrt/power are absent on purpose (PG raises on
    * domain errors where Spark returns NULL); so is any user function
    * (may RAISE). */
  private val TotalFns = Set(
    "coalesce", "nullif", "abs", "floor", "ceil", "ceiling", "round",
    "sign", "greatest", "least", "upper", "lower", "length",
    "char_length", "character_length", "trim", "ltrim", "rtrim",
    "btrim", "concat", "concat_ws", "replace", "substr", "substring",
    "left", "right", "lpad", "rpad", "reverse", "initcap",
    "cast", "try_cast", "nvl", "ifnull", "if")
  private val SqlKeywordsBeforeParen = Set(
    "in", "not", "and", "or", "when", "then", "else", "case", "end",
    "between", "exists", "any", "all", "some", "is", "as")

  /** cast(X AS T) sites anywhere in the expression (string-safe,
    * balanced): each can raise on a malformed value in PG, and each has
    * an exact static probe — `X IS NOT NULL AND try_cast(X AS T) IS
    * NULL`. Left when a cast's content doesn't split on a top-level
    * AS. */
  private[graft] def castSites(expr: String)
      : Either[String, Seq[(String, String)]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val re = "(?i)(?<![\\w.])cast\\s*\\(".r
    // 'cast(' INSIDE a string literal is data
    for (m <- re.findAllMatchIn(SqlLex.mask(expr))) {
      val close = SqlLex.matchParen(expr, m.end - 1)
      val content =
        expr.substring(m.end, if (close < 0) expr.length else close)
      val asPos = SqlLex.keyword(content, "AS")
      if (asPos < 0)
        return Left(s"cast without a top-level AS: cast($content)")
      out += ((content.substring(0, asPos).trim,
        content.substring(asPos + 2).trim))
    }
    Right(out.toSeq)
  }

  /** Static guards for `EXCEPTION WHEN OTHERS THEN RETURN h` over a
    * RETURN-expression body (pl_exec.c exec_stmt_block's generic
    * handler): lowerable iff every raise site in the body is statically
    * enumerable — top-level division/modulo (denominator = 0 probe)
    * and casts (try_cast probe) — and every call is a total function.
    * Returns the OR-able guard terms; Left(reason) defers loudly.
    * Known tier limitation (documented, not guarded): integer overflow
    * raises in PG but wraps in Spark. */
  private[graft] def staticOthersGuards(
      expr: String, stringParams: Set[String] = Set.empty)
      : Either[String, Seq[String]] = {
    if (hasNestedDivMod(expr))
      return Left("a division/modulo nested inside call arguments " +
        "has no static guard")
    // calls outside the total-function whitelist may raise (domain
    // errors, user RAISE) — strings stripped before the scan
    val stripped = SqlLex.mask(expr)
    val badCall = "(?i)(?<![\\w.])([a-z_][a-z0-9_]*)\\s*\\(".r
      .findAllMatchIn(stripped).map(_.group(1).toLowerCase)
      .find(f => !TotalFns.contains(f) && !SqlKeywordsBeforeParen.contains(f))
    badCall.foreach { f =>
      return Left(s"call to $f() may raise and has no static guard")
    }
    val divGuards = topLevelDenominators(expr).map(d => s"($d) = 0")
    castSites(expr).flatMap { cs =>
      // a CASE may conditionally guard a raise site (`CASE WHEN d = 0
      // THEN 0 ELSE n / d END`) — PG never evaluates the division, so
      // an unconditional static guard would hijack the handler. Any
      // CASE alongside a raise site ⇒ defer (r8 review fix).
      if ((divGuards.nonEmpty || cs.nonEmpty) &&
        "(?i)(?<![\\w.])CASE(?![\\w.])".r.findFirstIn(stripped).isDefined)
        return Left("a CASE in the body may conditionally guard the " +
          "raise site — no static guard")
      Right(divGuards ++ cs.map { case (x, t) =>
        // Spark's try_cast REJECTS via an internal throw/catch —
        // measured ~8 µs per failing row (vs ~0.3 µs passing), so a
        // garbage-heavy column pays 20× on the probe alone. When the
        // operand is a DECLARED-string parameter and the target is
        // integral, a cheap RLIKE pre-screen takes the common garbage
        // on the regex branch (|| short-circuits in codegen); try_cast
        // stays as the overflow check on shape-valid strings. The
        // screen needs the operand to actually BE a string — an
        // implicit numeric→string coercion would make RLIKE reject
        // values PG casts fine (1.5 → bigint rounds, never raises).
        val isIntegral = Set("bigint", "int", "integer", "smallint",
          "int2", "int4", "int8").contains(t.trim.toLowerCase)
        val isStringOperand =
          stringParams.contains(x.trim.toLowerCase)
        if (isIntegral && isStringOperand)
          s"((($x) IS NOT NULL) AND " +
            s"((NOT (($x) RLIKE '^\\\\s*[+-]?[0-9]+\\\\s*$$')) OR " +
            s"(try_cast(($x) AS $t) IS NULL)))"
        else s"((($x) IS NOT NULL) AND (try_cast(($x) AS $t) IS NULL))"
      })
    }
  }
  // tier 4: FOR <var> IN <select> LOOP <body> END LOOP [; RETURN <e>]
  private val PlForRe =
    ("(?is)^\\s*FOR\\s+(\\w+)\\s+IN\\s+(SELECT\\b.+?)\\s+LOOP\\s+(.+?)" +
      "\\s*END\\s+LOOP\\s*;?(?:\\s*RETURN\\s+(.+?)\\s*;?)?\\s*$").r
  // tier 4b: integer range loop — FOR <var> IN <lo>..<hi> LOOP ...
  private val PlForRangeRe =
    ("(?is)^\\s*FOR\\s+(\\w+)\\s+IN\\s+(.+?)\\s*\\.\\.\\s*(.+?)\\s+LOOP" +
      "\\s+(.+?)\\s*END\\s+LOOP\\s*;?(?:\\s*RETURN\\s+(.+?)\\s*;?)?\\s*$").r
  // tier 4c: FOREACH <var> IN ARRAY <expr> LOOP ... — pl_exec.c
  // exec_stmt_foreach_a; the loop domain is the exploded array
  private val PlForeachRe =
    ("(?is)^\\s*FOREACH\\s+(\\w+)\\s+IN\\s+ARRAY\\s+(.+?)\\s+LOOP" +
      "\\s+(.+?)\\s*END\\s+LOOP\\s*;?(?:\\s*RETURN\\s+(.+?)\\s*;?)?\\s*$").r
  // tier 4d: FOR <var> IN <cursor> LOOP — exec_stmt_forc over a BOUND
  // cursor (`c CURSOR FOR SELECT ...` in DECLARE); the cursor is just a
  // named query, so the loop lowers exactly like FOR-over-SELECT.
  // Parameterized cursors (`CURSOR (args)`) and OPEN/FETCH/CLOSE
  // protocols stay deferred.
  private val PlForCursorRe =
    ("(?is)^\\s*FOR\\s+(\\w+)\\s+IN\\s+(\\w+)\\s+LOOP" +
      "\\s+(.+?)\\s*END\\s+LOOP\\s*;?(?:\\s*RETURN\\s+(.+?)\\s*;?)?\\s*$").r
  private val CursorDeclRe =
    ("(?is)^\\s*(\\w+)\\s+(?:NO\\s+SCROLL\\s+|SCROLL\\s+)?CURSOR\\s+" +
      "(?:IS|FOR)\\s+(SELECT\\b.+)$").r
  // tier 4e: counter WHILE — `WHILE i <= hi LOOP … i := i + 1; END
  // LOOP` (exec_stmt_while) where the counter is declared with an
  // initializer and the unit increment is the LAST body statement;
  // then the loop IS `FOR i IN init..bound` and the same accumulator
  // lowering applies. Any other WHILE (data-dependent condition,
  // non-unit step, mid-body increment) defers.
  private val PlWhileRe =
    ("(?is)^\\s*WHILE\\s+(\\w+)\\s*(<=|<)\\s*(.+?)\\s+LOOP\\s+(.+?)\\s*" +
      "END\\s+LOOP\\s*;?(?:\\s*RETURN\\s+(.+?)\\s*;?)?\\s*$").r

  def executeCreatePlpgsql(spark: SparkSession, gpSql: String): DataFrame = {
    val m = CreatePlpgsqlRe.findFirstMatchIn(gpSql).getOrElse(
      throw new IllegalArgumentException(
        s"cannot parse CREATE FUNCTION ... LANGUAGE plpgsql: $gpSql"))
    val name = m.group(1).toLowerCase
    deferredPlpgsql.remove(name) // OR REPLACE with a supported body heals
    // RETURNS trigger → the row-trigger body tier (NEW assignments +
    // RETURN-NULL skips); see executeCreateTriggerFn
    if ("(?is)\\bRETURNS\\s+trigger\\b".r.findFirstIn(gpSql).isDefined)
      return executeCreateTriggerFn(spark, name, m.group(4))
    val paramDecls = SqlLex.split(m.group(2), ',')
    val params = paramDecls.map { p =>
      val sp = p.indexWhere(_.isWhitespace)
      if (sp < 0) p else p.substring(0, sp)
    }
    // declared-string params enable the cast-guard RLIKE fast path
    // (staticOthersGuards) — the screen is only sound on actual strings
    val stringParams: Set[String] = paramDecls.flatMap { p =>
      val sp = p.indexWhere(_.isWhitespace)
      if (sp < 0) None
      else {
        val ty = p.substring(sp).trim.toLowerCase
        if (ty.startsWith("varchar") || ty.startsWith("text") ||
          ty.startsWith("char") || ty.startsWith("character") ||
          ty.startsWith("string") || ty.startsWith("bpchar") ||
          ty.startsWith("citext") || ty.startsWith("name"))
          Some(p.substring(0, sp).toLowerCase)
        else None
      }
    }.toSet
    val (declsRaw, stmts) = m.group(4).trim match {
      case PlBodyRe(d, s) => (Option(d).getOrElse(""), s.trim)
      case other =>
        deferredPlpgsql(name) = firstStatement(other)
        return spark.emptyDataFrame
    }
    // initialized declarations substitute textually (16-round fixpoint
    // like inlineSqlFunctions, so locals may reference params/locals)
    val DeclInit = "(?is)^\\s*(\\w+)\\s+.*?(?::=|DEFAULT)\\s*(.+?)\\s*$".r
    // bound cursors first: a cursor decl has no :=/DEFAULT so the two
    // maps never claim the same declaration
    val cursors = SqlLex.split(declsRaw, ';').flatMap {
      case CursorDeclRe(c, sel) => Some(c.toLowerCase -> sel.trim)
      case _ => None
    }.toMap
    val decls = SqlLex.split(declsRaw, ';').flatMap {
      case CursorDeclRe(_, _) => None
      case DeclInit(v, init) => Some(v.toLowerCase -> init)
      case _ => None // uninitialized: only fatal if referenced (NULL var)
    }.toMap
    def subst(env: Map[String, String])(expr: String): String = {
      var cur = expr
      var rounds = 0
      var changed = true
      while (changed && rounds < 16) {
        changed = false
        rounds += 1
        env.foreach { case (v, init) =>
          val next = s"(?i)(?<![\\w.])$v(?![\\w.(])".r
            .replaceAllIn(cur, _ => java.util.regex.Matcher.quoteReplacement(s"($init)"))
          if (next != cur) { cur = next; changed = true }
        }
      }
      cur
    }
    // tier 5c: flatten liftable nested BEGIN/EXCEPTION blocks into
    // guarded conditional assignments (see PlNestedBlockRe) BEFORE the
    // trailing-handler split — any BEGIN still left in the body after
    // this is a shape the tier cannot lift, and defers loudly.
    var nestedDefer: Option[String] = None
    val stmtsFlat = PlNestedBlockRe.replaceAllIn(stmts, nm => {
      val (tryRaw, cond, handRaw) =
        (nm.group(1), nm.group(2).toLowerCase, nm.group(3))
      def keep(why: String): String = {
        nestedDefer = Some(s"nested BEGIN/EXCEPTION: $why")
        java.util.regex.Matcher.quoteReplacement(nm.matched)
      }
      val AssignRe2 = "(?is)^\\s*(\\w+)\\s*:=\\s*(.+?)\\s*$".r
      def parseAssigns(s: String): Seq[(String, String)] =
        s.split(";").iterator.map(_.trim).filter(_.nonEmpty).map {
          case AssignRe2(v, e) => (v.toLowerCase, e)
        }.toSeq
      def lsub(lenv: Seq[(String, String)], e: String): String =
        lenv.foldLeft(e) { case (cur, (v, init)) =>
          s"(?i)(?<![\\w.])$v(?![\\w.(])".r.replaceAllIn(cur,
            _ => java.util.regex.Matcher.quoteReplacement(s"($init)"))
        }
      val tryAssigns = parseAssigns(tryRaw)
      val handAssigns = parseAssigns(handRaw)
      // PG runs the block under its own exception context: on a raise
      // EVERY try assignment rolls back, then handler assignments
      // apply against the PRE-BLOCK state. A handler expression
      // reading a try-assigned variable would need that pre-image per
      // branch — defer rather than risk binding the post-value.
      val tryVars = tryAssigns.map(_._1).toSet
      val handlerReads = handAssigns.find { case (_, h) =>
        tryVars.exists(v =>
          s"(?i)(?<![\\w.])$v(?![\\w.(])".r
            .findFirstIn(SqlLex.mask(h)).isDefined)
      }
      if (handlerReads.isDefined)
        keep(s"handler expression '${handlerReads.get._2}' reads a " +
          "try-assigned variable — PG would bind the pre-block value")
      else {
        // fold the try chain over PRE-BLOCK state: each RHS
        // substitutes prior try assignments textually, so every
        // final-form expression (and its raise guards) is over
        // pre-block variables only
        var lenv = Seq.empty[(String, String)]
        tryAssigns.foreach { case (v, e) =>
          lenv = lenv.filterNot(_._1 == v) :+ (v -> lsub(lenv, e))
        }
        val finalExprs = lenv
        val guardsE: Either[String, Seq[String]] = cond match {
          case "others" =>
            finalExprs.foldLeft[Either[String, Seq[String]]](
              Right(Nil)) {
              case (Right(acc), (_, e)) =>
                staticOthersGuards(e, stringParams).map(acc ++ _)
              case (l, _) => l
            }
          case "division_by_zero" =>
            val caseHit = finalExprs.find { case (_, e) =>
              "(?i)(?<![\\w.])CASE(?![\\w.])".r
                .findFirstIn(SqlLex.mask(e)).isDefined }
            val dens = finalExprs.flatMap { case (_, e) =>
              topLevelDenominators(e) }
            if (caseHit.isDefined)
              Left("a CASE in the inner body may conditionally guard " +
                "the division — no static guard")
            else if (dens.isEmpty) Left("no top-level division to guard")
            else Right(dens.map(d => s"($d) = 0"))
          case c => Left(s"inner handler WHEN $c has no static guard")
        }
        guardsE match {
          case Left(why) => keep(why)
          case Right(Nil) =>
            // no raise site anywhere: the handler is statically dead,
            // the try chain alone is the block
            java.util.regex.Matcher.quoteReplacement(
              finalExprs.map { case (v, e) => s"$v := ($e);" }
                .mkString(" "))
          case Right(gs) =>
            val g = gs.mkString(" OR ")
            val handMap = handAssigns.toMap
            // pre-block value of an uninitialized, non-parameter local
            // is NULL (exec_stmt_block initializes declared vars)
            val paramSet = params.map(_.toLowerCase).toSet
            def preBlock(v: String): String =
              if (decls.contains(v) || paramSet.contains(v)) v
              else "NULL"
            val order = tryAssigns.map(_._1).distinct ++
              handAssigns.map(_._1).filterNot(tryVars.contains).distinct
            val out = order.map { v =>
              val thenArm = handMap.getOrElse(v, preBlock(v))
              val elseArm = finalExprs.collectFirst {
                case (`v`, e) => e }.getOrElse(preBlock(v))
              s"$v := CASE WHEN $g THEN ($thenArm) ELSE ($elseArm) END;"
            }.mkString(" ")
            java.util.regex.Matcher.quoteReplacement(out)
        }
      }
    })
    nestedDefer.foreach { why =>
      deferredPlpgsql(name) = why
      return spark.emptyDataFrame
    }
    if ("(?i)(?<![\\w.])BEGIN(?![\\w.])".r
        .findFirstIn(SqlLex.mask(stmtsFlat)).isDefined) {
      deferredPlpgsql(name) = "nested BEGIN block not of the liftable " +
        "single-assignment EXCEPTION shape (only one level of " +
        "`BEGIN v := e; EXCEPTION WHEN cond THEN v := h; END;` lowers)"
      return spark.emptyDataFrame
    }
    // tier 5: split off a trailing EXCEPTION section before statement
    // processing (see PlExcRe) — the main body then flows through the
    // normal assign-chain folding below
    val (mainStmts, excHandler) = stmtsFlat match {
      case PlExcRe(mn, cond, h) => (mn.trim, Some((cond.toLowerCase, h)))
      case _ => (stmtsFlat, None)
    }
    // leading `v := expr;` statements (pl_exec.c exec_stmt_assign) fold
    // sequentially into the environment: each RHS substitutes the
    // CURRENT bindings first, so `r := r * 2` composes over r's prior
    // value and the terminal RETURN sees one straight-line expression.
    // This keeps the whole body inlined in whole-stage codegen — a
    // straight-line plpgsql body IS an expression DAG.
    val parts = SqlLex.split(mainStmts, ';')
    val AssignRe = "(?is)^(\\w+)\\s*:=\\s*(.+)$".r
    var env = decls
    var i = 0
    var assigning = true
    while (assigning && i < parts.length - 1) {
      parts(i) match {
        case AssignRe(v, rhs) =>
          env = env + (v.toLowerCase -> subst(env)(rhs))
          i += 1
        case _ => assigning = false
      }
    }
    // IF ladders span several `;`-split parts — rejoin the tail
    val tail = parts.drop(i).mkString("; ")
    excHandler match {
      case Some((cond, h)) =>
        tail match {
          case PlReturnRe(expr0) if cond == "division_by_zero" &&
              parts.length - i <= 1 &&
              !expr0.trim.toUpperCase.startsWith("QUERY") =>
            val expr = subst(env)(expr0)
            val dens = topLevelDenominators(expr)
            if (dens.isEmpty)
              deferredPlpgsql(name) = "EXCEPTION WHEN division_by_zero " +
                "with no top-level division to guard"
            else if ("(?i)(?<![\\w.])CASE(?![\\w.])".r
                .findFirstIn(SqlLex.mask(expr)).isDefined)
              // a body CASE may conditionally guard the division — PG
              // would never evaluate it, an unconditional zero-probe
              // would hijack the handler (r8 review fix)
              deferredPlpgsql(name) = "a CASE in the body may " +
                "conditionally guard the division — no static guard"
            else {
              val guard = dens.map(d => s"($d) = 0").mkString(" OR ")
              sqlFunctions(name) = SqlFunction(params,
                s"CASE WHEN $guard THEN (${subst(env)(h)}) " +
                  s"ELSE ($expr) END", scalarExpr = true)
            }
          // tier 5b (r8): generic WHEN OTHERS over a RETURN-expression
          // body — lowerable iff every raise site is statically
          // enumerable (staticOthersGuards): top-level div/mod → zero
          // probe, casts → try_cast probe, all calls total. The guard
          // CASE selects the handler BEFORE any failing site evaluates.
          case PlReturnRe(expr0) if cond == "others" &&
              parts.length - i <= 1 &&
              !expr0.trim.toUpperCase.startsWith("QUERY") =>
            val expr = subst(env)(expr0)
            staticOthersGuards(expr, stringParams) match {
              case Left(why) =>
                deferredPlpgsql(name) = s"EXCEPTION WHEN OTHERS: $why"
              case Right(Nil) =>
                // no raise site anywhere — the handler is statically
                // dead code, the body alone is the function
                sqlFunctions(name) =
                  SqlFunction(params, expr, scalarExpr = true)
              case Right(guards) =>
                sqlFunctions(name) = SqlFunction(params,
                  s"CASE WHEN ${guards.mkString(" OR ")} " +
                    s"THEN (${subst(env)(h)}) ELSE ($expr) END",
                  scalarExpr = true)
            }
          case _ =>
            deferredPlpgsql(name) = s"EXCEPTION WHEN $cond (only " +
              "division_by_zero and statically-guardable OTHERS " +
              "handlers over a RETURN-expression body lower; " +
              "everything else has no static guard)"
        }
        return spark.emptyDataFrame
      case None => ()
    }
    tail match {
      // `RETURN QUERY <select>` — plpgsql's set-returning form; lowers
      // to a SQL-language TABLE function (pl_exec.c exec_stmt_return_
      // query). The inline renders a parenthesized subquery, so a call
      // in FROM position becomes a derived table. Checked before the
      // plain RETURN arm, which would otherwise swallow the QUERY
      // keyword into the expression.
      case PlReturnQueryExecRe(sql) if parts.length - i <= 1 =>
        sqlFunctions(name) = SqlFunction(params,
          subst(env)(sql.replace("''", "'")), scalarExpr = false)
      case PlReturnQueryExecUsingRe(sql, usingRaw)
          if parts.length - i <= 1 =>
        // $n slots ← USING expressions (locals already substituted);
        // out-of-range slots defer instead of inlining garbage
        val usingArgs = SqlLex.split(usingRaw, ',').map(subst(env))
        val dyn0 = sql.replace("''", "'")
        val slots = "(?<![\\w])\\$(\\d+)".r.findAllMatchIn(dyn0)
          .map(_.group(1).toInt).toSeq
        if (slots.exists(n => n < 1 || n > usingArgs.length))
          deferredPlpgsql(name) =
            s"EXECUTE USING parameter slot ${slots.max} out of range " +
              s"(${usingArgs.length} USING args)"
        else
          sqlFunctions(name) = SqlFunction(params,
            "(?<![\\w])\\$(\\d+)".r.replaceAllIn(dyn0, pm =>
              java.util.regex.Matcher.quoteReplacement(
                s"(${usingArgs(pm.group(1).toInt - 1)})")),
            scalarExpr = false)
      case PlReturnQueryExecFmtRe(fmt, argsRaw) if parts.length - i <= 1 =>
        val lits = "'((?:[^']|'')*)'".r.findAllMatchIn(argsRaw)
          .map(_.group(1).replace("''", "'")).toSeq
        foldPgFormat(fmt.replace("''", "'"), lits) match {
          case Some(sql) =>
            sqlFunctions(name) =
              SqlFunction(params, subst(env)(sql), scalarExpr = false)
          case None => deferredPlpgsql(name) = firstStatement(tail)
        }
      // dynamic EXECUTE that is NOT the constant-string form (USING
      // params, format() calls) must defer, not register a body Spark
      // can't parse
      case PlReturnQueryRe(sel) if parts.length - i <= 1 &&
          !sel.trim.toUpperCase.startsWith("EXECUTE") =>
        sqlFunctions(name) =
          SqlFunction(params, subst(env)(sel), scalarExpr = false)
      // single-tail guard: a lazy RETURN-to-$ match across several
      // statements ("RETURN a; x := 1;") must defer, not inline garbage;
      // a QUERY form that slipped past the guarded arms above (dynamic
      // EXECUTE) must defer too, not register as a scalar expression
      case PlReturnRe(expr) if parts.length - i <= 1 &&
          !expr.trim.toUpperCase.startsWith("QUERY") =>
        sqlFunctions(name) =
          SqlFunction(params, subst(env)(expr), scalarExpr = true)
      case ifBlock if PlIfRe.findFirstIn(ifBlock).isDefined =>
        // the IF/RETURN ladder is a CASE: IF→CASE WHEN, THEN RETURN→THEN,
        // ELSIF→WHEN, ELSE RETURN→ELSE, END IF→END; arm-final ';' drops
        val caseExpr = ifBlock
          .replaceAll("(?is)^\\s*IF\\s+", "CASE WHEN ")
          .replaceAll("(?is)\\s+THEN\\s+RETURN\\s+", " THEN ")
          .replaceAll("(?is);\\s*ELSIF\\s+", " WHEN ")
          .replaceAll("(?is);\\s*ELSE\\s+RETURN\\s+", " ELSE ")
          .replaceAll("(?is);?\\s*END\\s+IF\\s*;?\\s*$", " END")
        sqlFunctions(name) =
          SqlFunction(params, subst(env)(caseExpr), scalarExpr = true)
      // tier 4 (verdict r5 #5): FOR-over-query loops that reduce to a
      // join/aggregate (pl_exec.c exec_stmt_fors) — the most common
      // remaining dump pattern. Two shapes lower:
      //   a. `FOR r IN sel LOOP RETURN NEXT r; END LOOP` — the loop IS
      //      the query: registers a table function (≡ RETURN QUERY);
      //   b. accumulator bodies — any sequence of `acc := acc + e;` and
      //      `IF c THEN acc := acc + e; END IF;` over a declared-with-
      //      initializer acc, with a terminal `RETURN expr`: each acc
      //      lowers to `init + coalesce(sum(...),0)` over the loop query
      //      as a scalar subquery (the row-at-a-time loop IS an
      //      aggregate — exactly what a planner-minded rewrite of
      //      procedural ETL does). Anything else still defers loudly.
      case PlForRe(loopVar, sel0, body, ret) =>
        lowerPlpgsqlFor(name, params, subst(env), env,
          loopVar, sel0, body, Option(ret))
      // integer range loop (exec_stmt_fori): the loop domain is a
      // sequence() derived table, the same accumulator lowering applies
      // (the loop variable is the row, referenced bare)
      case PlForRangeRe(loopVar, lo, hi, body, ret) =>
        val seqSel = s"SELECT explode(sequence(CAST(($lo) AS BIGINT), " +
          s"CAST(($hi) AS BIGINT))) AS $loopVar"
        lowerPlpgsqlFor(name, params, subst(env), env,
          loopVar, seqSel, body, Option(ret))
      // array element loop (exec_stmt_foreach_a): the loop domain is
      // the exploded array, same accumulator lowering; SLICE forms
      // (sub-array iteration) fall through to the deferral arm because
      // this regex requires the bare `IN ARRAY expr` shape
      case PlForeachRe(loopVar, arr, body, ret) =>
        val seqSel = s"SELECT explode($arr) AS $loopVar"
        lowerPlpgsqlFor(name, params, subst(env), env,
          loopVar, seqSel, body, Option(ret))
      // bound-cursor loop (exec_stmt_forc): the guard keeps unbound
      // identifiers (EXECUTE, refcursors, undeclared names) on the
      // deferral path instead of inlining a phantom query
      case PlForCursorRe(loopVar, curName, body, ret)
          if cursors.contains(curName.toLowerCase) =>
        lowerPlpgsqlFor(name, params, subst(env), env,
          loopVar, cursors(curName.toLowerCase), body, Option(ret))
      // tier 4f: refcursor OPEN → FETCH/EXIT loop (exec_stmt_open/
      // exec_stmt_fetch) — the iterator protocol over a bound query is
      // a FOR-over-query loop; same accumulator lowering
      case PlOpenFetchRe(cur, selOpt, loopVar, body, ret) =>
        Option(selOpt).map(_.trim)
          .orElse(cursors.get(cur.toLowerCase)) match {
          case Some(sel) =>
            lowerPlpgsqlFor(name, params, subst(env), env,
              loopVar, sel, body, Option(ret))
          case None =>
            deferredPlpgsql(name) =
              s"OPEN $cur: cursor has no bound query"
        }
      case PlWhileRe(v, op, hi, body, ret) if env.contains(v.toLowerCase) =>
        val vq = java.util.regex.Pattern.quote(v)
        val IncLast =
          s"(?is)^(.*?)\\s*$vq\\s*:=\\s*$vq\\s*\\+\\s*1\\s*;?\\s*$$".r
        body match {
          case IncLast(rest) =>
            val envNoV = env - v.toLowerCase
            val bound = if (op == "<") s"($hi) - 1" else hi
            val seqSel = "SELECT explode(sequence(" +
              s"CAST((${env(v.toLowerCase)}) AS BIGINT), " +
              s"CAST(($bound) AS BIGINT))) AS $v"
            lowerPlpgsqlFor(name, params, subst(envNoV), envNoV,
              v, seqSel, rest, Option(ret))
          case _ => deferredPlpgsql(name) = firstStatement(tail)
        }
      case other =>
        deferredPlpgsql(name) = firstStatement(other)
    }
    spark.emptyDataFrame
  }

  /** Tier-4 FOR-loop lowering (see executeCreatePlpgsql). Registers the
    * function on success; records a deferral reason otherwise. */
  private def lowerPlpgsqlFor(
      name: String, params: Seq[String], subst: String => String,
      env: Map[String, String], loopVar: String, sel0: String,
      body: String, ret: Option[String]): Unit = {
    val sel = subst(sel0)
    val lv = java.util.regex.Pattern.quote(loopVar)
    // r.field → field: inside the lowered aggregate the loop variable's
    // record IS the query row
    def deref(e: String): String =
      s"(?i)(?<![\\w.])$lv\\.".r.replaceAllIn(e, "")
    val ReturnNextRe =
      s"(?is)^\\s*RETURN\\s+NEXT\\s+$lv\\s*;?\\s*$$".r
    if (ReturnNextRe.findFirstIn(body).isDefined) {
      if (ret.isEmpty)
        sqlFunctions(name) = SqlFunction(params, sel, scalarExpr = false)
      else deferredPlpgsql(name) = firstStatement(s"RETURN ${ret.get}")
      return
    }
    val GuardedAcc = ("(?is)^IF\\s+(.+?)\\s+THEN\\s+(\\w+)\\s*:=\\s*" +
      "\\2\\s*\\+\\s*(.+?)\\s*;\\s*END\\s+IF\\s*;?\\s*(.*)$").r
    val PlainAcc =
      "(?is)^(\\w+)\\s*:=\\s*\\1\\s*\\+\\s*([^;]+?)\\s*(?:;\\s*(.*))?$".r
    // acc → aggregate terms over the loop query (order preserved)
    var terms = Vector.empty[(String, String)] // (acc, sum argument)
    var rest = body.trim
    var ok = true
    while (ok && rest.nonEmpty) {
      rest match {
        case GuardedAcc(cond, acc, e, more) =>
          terms :+= (acc.toLowerCase ->
            s"CASE WHEN ${deref(cond)} THEN (${deref(e)}) ELSE 0 END")
          rest = more.trim
        case PlainAcc(acc, e, more) =>
          terms :+= (acc.toLowerCase -> s"(${deref(e)})")
          rest = Option(more).getOrElse("").trim
        case _ => ok = false
      }
    }
    if (!ok || terms.isEmpty || ret.isEmpty) {
      deferredPlpgsql(name) =
        firstStatement(if (ok && ret.isEmpty) "FOR ... END LOOP" else rest)
      return
    }
    // Sequential cross-accumulator reads (`a := a + r.x; b := b + a;`)
    // cannot be expressed as independent per-loop sums — the lowered
    // form would sum a COLUMN named `a` (silently wrong if the loop
    // query exposes one, an opaque analysis error otherwise). Defer
    // loudly, matching the contract of every other unsupported shape.
    val accNames = terms.map(_._1).toSet
    val crossRef = terms.find { case (_, arg) =>
      accNames.exists { a =>
        s"(?i)(?<![\\w.])${java.util.regex.Pattern.quote(a)}(?![\\w.(])".r
          .findFirstIn(arg).isDefined
      }
    }
    if (crossRef.isDefined) {
      deferredPlpgsql(name) = s"accumulator ${crossRef.get._1} reads " +
        "another accumulator inside the loop (sequential semantics)"
      return
    }
    val missing = terms.map(_._1).distinct.filterNot(env.contains)
    if (missing.nonEmpty) {
      // PG: an uninitialized acc is NULL and the loop accumulates NULL —
      // inlining with a 0 default would silently change that
      deferredPlpgsql(name) =
        s"accumulator ${missing.head} has no initializer"
      return
    }
    val accEnv = terms.groupBy(_._1).map { case (acc, ts) =>
      val sums = ts
        .map { case (_, arg) => s"coalesce(sum($arg), 0)" }
        .mkString(" + ")
      acc -> s"(SELECT (${env(acc)}) + $sums FROM ($sel) __loop)"
    }
    var out = ret.get
    accEnv.foreach { case (acc, repl) =>
      out = s"(?i)(?<![\\w.])$acc(?![\\w.(])".r
        .replaceAllIn(out, java.util.regex.Matcher.quoteReplacement(repl))
    }
    sqlFunctions(name) = SqlFunction(params, subst(out), scalarExpr = true)
  }

  // ---- procedures / anonymous blocks (PG 11 CREATE PROCEDURE +
  // CALL, commands/functioncmds.c; DO = anonymous code block,
  // gram.y DoStmt) — the procedural-ETL entry points. The body runs
  // statement-by-statement through the full dialect (autocommit:
  // COMMIT/ROLLBACK inside are accepted no-ops — each graft statement
  // is already durable, the PG-transactional middle ground does not
  // exist here). A FOR-over-query loop whose body is ONE UPDATE lowers
  // to a single set-based UPDATE ... FROM — the rewrite a migration
  // does by hand; anything else unsupported raises loudly with the
  // offending statement. ---------------------------------------------
  private final case class Procedure(params: Seq[String], body: String)
  private val procedures =
    scala.collection.concurrent.TrieMap.empty[String, Procedure]

  private val CreateProcedureRe =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?PROCEDURE\\s+(\\w+)\\s*" +
      "\\(([^)]*)\\).*?\\bAS\\s+\\$(\\w*)\\$(.*)\\$\\3\\$.*$").r
  private val CallRe = "(?is)^\\s*CALL\\s+(\\w+)\\s*\\((.*)\\)\\s*;?\\s*$".r
  private val DoBlockRe =
    ("(?is)^\\s*DO\\s+(?:LANGUAGE\\s+\\w+\\s+)?\\$(\\w*)\\$(.*)\\$\\1\\$" +
      "\\s*(?:LANGUAGE\\s+\\w+)?\\s*;?\\s*$").r
  // SET/WHERE captures exclude ';' so a multi-statement body can never
  // be swallowed as one UPDATE (it belongs to PlForDmlRe below)
  private val PlForUpdateRe =
    ("(?is)^\\s*FOR\\s+(\\w+)\\s+IN\\s+(SELECT\\b.+?)\\s+LOOP\\s*" +
      "UPDATE\\s+(\\w+)\\s+SET\\s+([^;]+?)\\s+WHERE\\s+([^;]+?);?\\s*" +
      "END\\s+LOOP\\s*$").r
  // r8: FOR loop over a query whose body mixes SEVERAL DML statements
  private val PlForDmlRe =
    ("(?is)^\\s*FOR\\s+(\\w+)\\s+IN\\s+(SELECT\\b.+?)\\s+LOOP\\s+(.+?)" +
      "\\s*END\\s+LOOP\\s*$").r
  private val LoopInsertValsRe =
    ("(?is)^INSERT\\s+INTO\\s+(\\w+)\\s*(?:\\(([^)]*)\\)\\s*)?" +
      "VALUES\\s*\\((.+)\\)\\s*$").r
  private val LoopUpdateRe =
    "(?is)^UPDATE\\s+(\\w+)\\s+SET\\s+(.+?)\\s+WHERE\\s+(.+)$".r
  private val LoopDeleteRe =
    "(?is)^DELETE\\s+FROM\\s+(\\w+)\\s+WHERE\\s+(.+)$".r
  private def isDmlLoopBody(body: String): Boolean = {
    val stmts = SqlLex.split(body, ';')
    stmts.nonEmpty && stmts.forall {
      case LoopInsertValsRe(_, _, _) => true
      case LoopUpdateRe(_, _, _) => true
      case LoopDeleteRe(_, _) => true
      case _ => false
    }
  }
  private val PerformRe = "(?is)^\\s*PERFORM\\s+(.+)$".r

  /** Multi-statement DML loop bodies (pl_exec.c exec_stmt_fors over a
    * body of INSERT/UPDATE/DELETE — the r7 verdict's top remaining
    * plpgsql wall): every row-at-a-time statement lowers to ONE
    * set-based statement over the loop source relation. Sequential
    * interleave (stmt1 row1, stmt2 row1, stmt1 row2 …) ≡ the batched
    * form (all of stmt1, then all of stmt2) iff the statements are
    * independent: target tables pairwise distinct, and neither the
    * loop source nor any OTHER statement references a table the body
    * writes. Violations raise loudly — never a silent reorder. */
  private def lowerDmlLoop(
      spark: SparkSession, loopVar: String, sel: String, body: String,
      basePath: String): Unit = {
    import org.apache.spark.sql.functions.expr
    val stmts = SqlLex.split(body, ';')
    val parsed = stmts.map {
      case st @ LoopInsertValsRe(t, _, vals) =>
        // single VALUES tuple only: the capture's own parens must close
        // exactly at its end, else it is `VALUES (..),(..)` — reject
        // rather than mangle
        if (SqlLex.matchParen(s"($vals)", 0) != vals.length + 1)
          throw new UnsupportedOperationException(
            "DML loop INSERT must use a single VALUES tuple: " +
              firstStatement(st))
        (t.toLowerCase, st)
      case st @ LoopUpdateRe(t, _, _) => (t.toLowerCase, st)
      case st @ LoopDeleteRe(t, _) => (t.toLowerCase, st)
      case other => throw new UnsupportedOperationException(
        "DML loop body statement not lowerable: " + firstStatement(other))
    }
    val targets = parsed.map(_._1)
    if (targets.distinct.length != targets.length)
      throw new UnsupportedOperationException(
        "DML loop writes the same table twice — sequential semantics " +
          s"have no set-based equivalent: ${targets.mkString(", ")}")
    targets.foreach { t =>
      val re = s"(?i)(?<![\\w.])${java.util.regex.Pattern.quote(t)}(?![\\w])".r
      if (re.findFirstIn(sel).isDefined)
        throw new UnsupportedOperationException(
          s"DML loop source reads $t, which the body writes — " +
            "sequential semantics have no set-based equivalent")
      parsed.foreach { case (t2, txt) =>
        if (t2 != t && re.findFirstIn(txt).isDefined)
          throw new UnsupportedOperationException(
            s"DML loop statement on $t2 references $t, which another " +
              "statement writes — sequential semantics have no " +
              "set-based equivalent")
      }
    }
    val lv = java.util.regex.Pattern.quote(loopVar)
    prefixed(execute(spark, sel, basePath))
      .createOrReplaceTempView("__loop_src")
    def deref(e: String): String =
      s"(?i)(?<![\\w.])$lv\\.(\\w+)".r
        .replaceAllIn(e, m => SrcPrefix + m.group(1).toLowerCase)
    parsed.foreach { case (_, st) =>
      st match {
        case LoopInsertValsRe(t, cols, vals) =>
          val colSpec = Option(cols).map(c => s"($c) ").getOrElse("")
          execute(spark,
            s"INSERT INTO $t ${colSpec}SELECT ${deref(vals)} " +
              "FROM __loop_src", basePath)
        case LoopUpdateRe(t, set, cond) =>
          executeUpdateFrom(spark, t, deref(set), "__loop_src", deref(cond))
        case LoopDeleteRe(t, cond) =>
          mergeTable(spark, catalog(t), Some(Dml.Source(
            dmlSource(spark, "__loop_src"), expr(deref(cond)))),
            Seq(Dml.Matched(None, Dml.Delete)))
      }
      ()
    }
  }

  def executeCreateProcedure(
      spark: SparkSession, gpSql: String): DataFrame = {
    val m = CreateProcedureRe.findFirstMatchIn(gpSql).get
    val params = SqlLex.split(m.group(2), ',')
      .map(_.replaceAll("(?is)^(?:IN|OUT|INOUT)\\s+", ""))
      .map { p =>
        val sp = p.indexWhere(_.isWhitespace)
        if (sp < 0) p else p.substring(0, sp)
      }
    procedures(m.group(1).toLowerCase) = Procedure(params, m.group(4))
    spark.emptyDataFrame
  }

  def executeCall(
      spark: SparkSession, name: String, argsRaw: String,
      basePath: String): DataFrame = {
    import spark.implicits._
    val p = procedures.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"unknown procedure $name"))
    val args = SqlLex.split(argsRaw, ',')
    // arity check up front — a silent zip would leave unsubstituted
    // parameter names in the body and surface later as an opaque
    // unresolved-column error instead of a clear wrong-arg-count one
    require(args.length == p.params.length,
      s"procedure $name expects ${p.params.length} args, got ${args.length}")
    var body = p.body
    p.params.zip(args).foreach { case (prm, a) =>
      body = s"(?i)(?<![\\w.])${java.util.regex.Pattern.quote(prm)}(?![\\w.(])"
        .r.replaceAllIn(body,
          java.util.regex.Matcher.quoteReplacement(s"($a)"))
    }
    runPlBlock(spark, body, basePath)
    Seq(name).toDF("called")
  }

  /** Execute a plpgsql-shaped block body: optional DECLARE (constant
    * initializers substitute textually), then statements through the
    * dialect. See the procedure header comment for the contract. */
  /** Loop control signals for the scalar-state block interpreter —
    * EXIT / CONTINUE unwinding to the innermost loop, or (labeled,
    * pl_exec.c exec_stmt_exit with stmt->label) past it to the
    * `<<label>>`-named enclosing loop: a non-matching loop rethrows,
    * so the signal climbs exactly to its target. */
  private final class PlExitSignal(val label: Option[String])
    extends RuntimeException
  private final class PlContinueSignal(val label: Option[String])
    extends RuntimeException
  private val PlAssignStmtRe = "(?is)^\\s*(\\w+)\\s*:=\\s*(.+)$".r
  private val PlSelectIntoVarRe =
    "(?is)^\\s*SELECT\\s+(.+?)\\s+INTO\\s+(\\w+)\\s*(FROM\\b.+)?$".r
  private val PlWhileDataRe =
    ("(?is)^\\s*(?:<<\\s*(\\w+)\\s*>>\\s*)?WHILE\\s+(.+?)\\s+LOOP\\s+" +
      "(.+)\\s*;\\s*END\\s+LOOP\\s*(?:\\w+\\s*)?$").r
  private val PlBareLoopRe =
    ("(?is)^\\s*(?:<<\\s*(\\w+)\\s*>>\\s*)?LOOP\\s+(.+)\\s*;\\s*" +
      "END\\s+LOOP\\s*(?:\\w+\\s*)?$").r
  private val PlExitStmtRe =
    "(?is)^\\s*EXIT\\s*(?!WHEN\\b)(\\w+)?\\s*(?:WHEN\\s+(.+))?$".r
  private val PlContinueStmtRe =
    "(?is)^\\s*CONTINUE\\s*(?!WHEN\\b)(\\w+)?\\s*(?:WHEN\\s+(.+))?$".r

  private[graft] def runPlBlock(
      spark: SparkSession, rawBody: String, basePath: String): Unit = {
    val (declsRaw, stmtsRaw) = rawBody.trim match {
      case PlBodyRe(d, s) => (Option(d).getOrElse(""), s)
      case other => ("", other)
    }
    val DeclInit = "(?is)^\\s*(\\w+)\\s+.*?(?::=|DEFAULT)\\s*(.+?)\\s*$".r
    val DeclNoInit = "(?is)^\\s*(\\w+)\\s+\\S.*$".r
    // Scalar-state tier (exec_stmt_while / exec_stmt_assign /
    // exec_stmt_exit): variables that are REASSIGNED in the body
    // (`v := e`, `SELECT ... INTO v`) live in a mutable env of SQL
    // literals, re-evaluated driver-side per assignment —
    // catalog-scale scalar work; every statement over data stays a
    // set-based SQL statement. Unassigned declared vars keep the
    // static textual-substitution contract. Loop/record/cursor names
    // never join either env (their binding is per-row, not scalar).
    val maskedStmts = SqlLex.mask(stmtsRaw)
    def isAssigned(v: String): Boolean =
      s"(?i)(?<![\\w.])$v\\s*:=".r.findFirstIn(maskedStmts).isDefined ||
        s"(?i)\\bINTO\\s+$v(?![\\w.])".r.findFirstIn(maskedStmts).isDefined
    def isLoopVar(v: String): Boolean =
      s"(?i)\\bFOR(?:EACH)?\\s+$v(?![\\w.])".r
        .findFirstIn(maskedStmts).isDefined
    val staticPairs =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val mutInits =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SqlLex.split(declsRaw, ';').foreach { d =>
      val isCursor = "(?i)\\bCURSOR\\b".r.findFirstIn(d).isDefined
      d match {
        case DeclInit(v0, init) if !isCursor =>
          val v = v0.toLowerCase
          if (isAssigned(v) && !isLoopVar(v)) mutInits += (v -> init)
          else staticPairs += (v -> init)
        case DeclNoInit(v0) if !isCursor &&
            isAssigned(v0.toLowerCase) && !isLoopVar(v0.toLowerCase) =>
          mutInits += (v0.toLowerCase -> "NULL")
        case _ => ()
      }
    }
    val env = staticPairs.toMap
    val mutEnv =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    def substAll(expr: String): String = {
      val st = env.foldLeft(expr) { case (cur, (v, init)) =>
        s"(?i)(?<![\\w.])$v(?![\\w.(])".r.replaceAllIn(cur,
          java.util.regex.Matcher.quoteReplacement(s"($init)"))
      }
      mutEnv.foldLeft(st) { case (cur, (v, lit0)) =>
        s"(?i)(?<![\\w.])$v(?![\\w.(])".r.replaceAllIn(cur,
          java.util.regex.Matcher.quoteReplacement(s"($lit0)"))
      }
    }
    def evalQueryScalar(sel: String): Any = {
      val df = execute(spark, sel, basePath)
      // r10 statement-floor fix: a scalar over LITERALS (`i := i + 1`,
      // `EXIT WHEN i > 4` — every control-flow eval, since the mutable
      // env substitutes SQL literals) constant-folds to
      // Project[literal] over OneRowRelation, but Spark still runs a
      // one-task JOB to collect it — ~40 of the 67 jobs of a nested
      // counter loop were these (Scratch probe). Evaluate the folded
      // literal on the driver instead: Catalyst's own eval() of a
      // foldable expression is bit-identical to what the task computes.
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
      def unalias(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : org.apache.spark.sql.catalyst.expressions.Expression = e match {
        case a: Alias => unalias(a.child) // Alias.foldable is always false
        case x => x
      }
      df.queryExecution.optimizedPlan match {
        case Project(exprs, _: OneRowRelation)
            if exprs.nonEmpty && unalias(exprs.head).foldable =>
          val e = unalias(exprs.head)
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(
              e.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
              e.dataType)
        case _ =>
          val row = df.collect()(0)
          if (row.isNullAt(0)) null else row.get(0)
      }
    }
    def evalScalar(e: String): Any =
      evalQueryScalar(s"SELECT (${substAll(e)}) AS __v")
    def evalBool(cond: String): Boolean =
      evalScalar(s"CASE WHEN (${cond.trim}) THEN TRUE ELSE FALSE END") ==
        true
    def sqlLiteral(v: Any): String = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("'", "''") + "'"
      case b: java.lang.Boolean => if (b) "TRUE" else "FALSE"
      case d: java.sql.Date => s"DATE '$d'"
      case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
      case d: java.time.LocalDate => s"DATE '$d'"
      case bd: java.math.BigDecimal =>
        s"CAST('${bd.toPlainString}' AS DECIMAL(38,${bd.scale}))"
      case x: java.lang.Double => s"CAST('$x' AS DOUBLE)"
      case x: java.lang.Float => s"CAST('$x' AS FLOAT)"
      case n => n.toString
    }
    mutInits.foreach { case (v, init) =>
      mutEnv(v) = sqlLiteral(evalScalar(init))
    }
    // re-group FOR/FOREACH/WHILE/LOOP ... END LOOP spans that
    // ';'-splitting cut apart — depth-counted, so nested loops stay
    // inside their enclosing group
    def groupBlocks(parts: Seq[String]): Seq[String] = {
      val grouped = scala.collection.mutable.ArrayBuffer.empty[String]
      var acc = new StringBuilder
      var depth = 0
      parts.foreach { st =>
        val opener =
          "(?is)^\\s*(?:<<\\s*\\w+\\s*>>\\s*)?(FOR|FOREACH|WHILE|LOOP)\\b".r
            .findFirstIn(st).isDefined &&
            "(?is)END\\s+LOOP\\s*(?:\\w+)?\\s*$".r.findFirstIn(st).isEmpty
        val closer =
          "(?is)^\\s*END\\s+LOOP\\s*(?:\\w+)?\\s*$".r
            .findFirstIn(st).isDefined
        if (depth == 0) {
          if (opener) { depth = 1; acc = new StringBuilder(st) }
          else grouped += st
        } else {
          acc.append("; ").append(st)
          if (opener) depth += 1
          else if (closer) {
            depth -= 1
            if (depth == 0) grouped += acc.toString
          }
        }
      }
      if (depth > 0) grouped += acc.toString
      grouped.toSeq
    }
    def runStmts(text: String): Unit =
      groupBlocks(SqlLex.split(text, ';')).foreach(runStmt)
    def runStmt(g0: String): Unit = g0 match {
      // ---- scalar-state control statements match on the RAW text
      // (variable names must survive; expressions substitute at
      // evaluation time, so each iteration sees current values) ----
      case PlExitStmtRe(label, cond) =>
        if (Option(cond).forall(evalBool))
          throw new PlExitSignal(Option(label).map(_.toLowerCase))
      case PlContinueStmtRe(label, cond) =>
        if (Option(cond).forall(evalBool))
          throw new PlContinueSignal(Option(label).map(_.toLowerCase))
      case PlAssignStmtRe(v, rhs) if mutEnv.contains(v.toLowerCase) =>
        mutEnv(v.toLowerCase) = sqlLiteral(evalScalar(rhs))
      case PlSelectIntoVarRe(sel, v, from)
          if mutEnv.contains(v.toLowerCase) =>
        mutEnv(v.toLowerCase) = sqlLiteral(evalQueryScalar(
          s"SELECT ${substAll(sel)} ${Option(from).map(substAll)
            .getOrElse("")}"))
      case PlWhileDataRe(label0, cond, body) =>
        // data-dependent WHILE (exec_stmt_while): the condition
        // re-evaluates per iteration as a 1-row scalar query; the
        // body runs set-based. Iteration cap guards runaway loops —
        // each pass costs at least one Spark job, so 10k is already
        // far past any sane batch-maintenance shape.
        val label = Option(label0).map(_.toLowerCase)
        def mine(l: Option[String]) = l.isEmpty || l == label
        var iters = 0
        try {
          while (evalBool(cond)) {
            iters += 1
            if (iters > 10000) throw new UnsupportedOperationException(
              "plpgsql WHILE exceeded 10000 iterations (unbounded " +
                "driver loop): WHILE " + firstStatement(cond))
            try runStmts(body)
            catch {
              case c: PlContinueSignal if mine(c.label) => ()
            }
          }
        } catch { case e: PlExitSignal if mine(e.label) => () }
      case PlBareLoopRe(label0, body) =>
        // unconditional LOOP — terminates via EXIT [WHEN]; same cap
        val label = Option(label0).map(_.toLowerCase)
        def mine(l: Option[String]) = l.isEmpty || l == label
        var iters = 0
        try {
          while (true) {
            iters += 1
            if (iters > 10000) throw new UnsupportedOperationException(
              "plpgsql LOOP exceeded 10000 iterations without EXIT: " +
                firstStatement(body))
            try runStmts(body)
            catch {
              case c: PlContinueSignal if mine(c.label) => ()
            }
          }
        } catch { case e: PlExitSignal if mine(e.label) => () }
      case _ => runSubstituted(substAll(g0))
    }
    def runSubstituted(s: String): Unit = s match {
      case s if "(?is)^\\s*RAISE\\s+EXCEPTION\\b".r
          .findFirstIn(s).isDefined =>
        // RAISE EXCEPTION aborts in PG — same contract here
        throw new RuntimeException(s"plpgsql RAISE EXCEPTION: " +
          firstStatement(s))
      case s if "(?is)^\\s*(RAISE|NULL|COMMIT|ROLLBACK|BEGIN)\\b".r
          .findFirstIn(s).isDefined => () // notices & txn markers: no-ops
      case PerformRe(x) =>
        execute(spark, s"SELECT $x", basePath).collect()
        ()
      case PlForUpdateRe(v, sel, table, set, cond) =>
        // row-at-a-time UPDATE loop → ONE set-based UPDATE ... FROM;
        // source columns take the source prefix so bare references in
        // SET/WHERE unambiguously mean the TARGET table
        val lv = java.util.regex.Pattern.quote(v)
        prefixed(execute(spark, sel, basePath))
          .createOrReplaceTempView("__loop_src")
        def deref(e: String): String =
          s"(?i)(?<![\\w.])$lv\\.(\\w+)".r
            .replaceAllIn(e, m => SrcPrefix + m.group(1).toLowerCase)
        executeUpdateFrom(spark, table, deref(set), "__loop_src",
          deref(cond))
        ()
      // r8: loop body of SEVERAL independent DML statements — each
      // lowers to one set-based statement over the loop source
      case PlForDmlRe(v, sel, body) if isDmlLoopBody(body) =>
        lowerDmlLoop(spark, v, sel, body, basePath)
      // EXECUTE '…$n…' [USING e1, e2] (exec_stmt_dynexecute): locals
      // substituted already by the enclosing subst, so the USING args
      // are constant text — $n slots fill like PREPARE parameters
      case PlExecStmtRe(dynSql, usingRaw) =>
        val dyn0 = dynSql.replace("''", "'")
        val dyn = Option(usingRaw) match {
          case Some(u) =>
            val args = SqlLex.split(u, ',')
            "(?<![\\w])\\$(\\d+)".r.replaceAllIn(dyn0, pm => {
              val n = pm.group(1).toInt
              require(n >= 1 && n <= args.length,
                s"EXECUTE USING references $$$n but has ${args.length} args")
              java.util.regex.Matcher.quoteReplacement(s"(${args(n - 1)})")
            })
          case None => dyn0
        }
        execute(spark, dyn, basePath)
        ()
      case s if ("(?is)^\\s*(INSERT|UPDATE|DELETE|SELECT|CREATE|DROP|" +
          "TRUNCATE|COPY|MERGE|ANALYZE|VACUUM|ALTER|GRANT|COMMENT)\\b")
          .r.findFirstIn(s).isDefined =>
        execute(spark, s, basePath)
        ()
      case other => throw new UnsupportedOperationException(
        "procedure/DO statement not supported (only SQL statements, " +
          "PERFORM, RAISE, EXECUTE [USING], scalar `v := e` / " +
          "SELECT ... INTO v assignments, WHILE/LOOP with EXIT/" +
          "CONTINUE, and DML FOR loops execute): " +
          firstStatement(other))
    }
    try runStmts(stmtsRaw)
    catch {
      case _: PlExitSignal | _: PlContinueSignal =>
        throw new UnsupportedOperationException(
          "plpgsql EXIT/CONTINUE outside a loop (or with a label " +
            "matching no enclosing <<label>>)")
    }
  }

  /** First statement of a plpgsql block, truncated — the recorded "why". */
  private def firstStatement(body: String): String = {
    val s = body.trim.takeWhile(_ != ';').replaceAll("\\s+", " ")
    if (s.length <= 60) s else s.take(57) + "..."
  }

  /** Expand registered SQL-function calls in `sql` to their bodies with
    * arguments substituted (by parameter name and `$n`), repeating until
    * fixpoint so functions composed of functions flatten completely.
    * PG's inline depth guard → 16 rounds. */
  def inlineSqlFunctions(sql: String): String = {
    if (sqlFunctions.isEmpty) return sql
    var cur = sql
    var rounds = 0
    var changed = true
    while (changed && rounds < 16) {
      changed = false
      rounds += 1
      for ((name, fn) <- sqlFunctions) {
        val next = rewriteCalls(cur, name) { case args =>
          require(args.length == fn.params.length,
            s"$name() expects ${fn.params.length} args, got ${args.length}")
          // one simultaneous pass: args containing other parameter names
          // must not be re-substituted (inline_function does the same
          // via parse-tree param nodes)
          val byName = fn.params.zipWithIndex
            .map { case (p, i) => p.toLowerCase -> i }.toMap
          val paramPat = (if (fn.params.isEmpty) "(?i)\\$(\\d+)"
            else "(?i)(?<![\\w.$])(" +
              fn.params.map(java.util.regex.Pattern.quote).mkString("|") +
              ")\\b|\\$(\\d+)").r
          def substRun(run: String): String =
            paramPat.replaceAllIn(run, pm => {
              val i =
                if (pm.group(1) != null) byName(pm.group(1).toLowerCase)
                else pm.group(if (fn.params.isEmpty) 1 else 2).toInt - 1
              java.util.regex.Matcher.quoteReplacement(s"(${args(i)})")
            })
          // substitute OUTSIDE string literals only — a param name
          // (or $n) occurring inside a quoted literal is data, not a
          // reference (hit in r8: the 's' of a regex '\\s' inside an
          // RLIKE pattern was being replaced with the argument)
          val expanded = SqlLex.mapCode(fn.body)(substRun)
          // a generator body must stay bare — Spark rejects explode()
          // nested inside any expression, including plain parens
          if ("(?is)^\\s*(explode|posexplode)\\b".r
            .findFirstIn(expanded).isDefined) expanded
          else s"($expanded)"
        }
        if (next != cur) { changed = true; cur = next }
      }
    }
    cur
  }

  // ---- phase 2: COPY FROM / COPY TO ---------------------------------

  /** `COPY tbl FROM 'path' [CSV] [HEADER] [SEGMENT REJECT LIMIT n]`
    * (reference: commands/copy.c:959 DoCopy). */
  private val CopyFromRe =
    "(?is)^\\s*COPY\\s+(\\w+)\\s+FROM\\s+'([^']*)'(.*)$".r

  /** `COPY tbl TO 'path' [...]` or `COPY (SELECT ...) TO 'path' [...]`
    * (reference: commands/copy.c:2590 DoCopyTo). */
  private val CopyToRe =
    "(?is)^\\s*COPY\\s+(?:(\\w+)|\\((.+)\\))\\s+TO\\s+'([^']*)'(.*)$".r

  private def copyHasHeader(opts: String): Boolean =
    "(?i)\\bHEADER\\b".r.findFirstIn(opts).isDefined

  private def copyRejectLimit(opts: String): Long =
    "(?is)\\bSEGMENT\\s+REJECT\\s+LIMIT\\s+(\\d+)".r
      .findFirstMatchIn(opts).map(_.group(1).toLong).getOrElse(0L)

  /** COPY FROM: load a server-side CSV into a catalog table with GP's
    * single-row error handling — bad rows are skipped until the segment
    * reject limit trips (cdb/cdbsreh.c:367). The load lands with the
    * table's distribution/partition physics via [[appendFrame]]. */
  def executeCopyFrom(
      spark: SparkSession, table: String, path: String,
      opts: String): DataFrame = {
    val t = catalog.getOrElse(table.toLowerCase,
      throw new IllegalArgumentException(
        s"COPY FROM target $table is not a graft catalog table"))
    val src =
      if ("(?is)\\bLOG\\s+ERRORS\\b".r.findFirstIn(opts).isDefined)
        graft.sources.ExternalTables.readCsvLogErrors(
          spark, path, t.schema, copyRejectLimit(opts),
          errorLogPath = t.path + ".errlog", relname = t.name,
          header = copyHasHeader(opts))
      else graft.sources.ExternalTables.readCsvWithRejectLimit(
        spark, path, t.schema, copyRejectLimit(opts),
        header = copyHasHeader(opts))
    // PG fires BEFORE ROW triggers on COPY FROM (copy.c CopyFrom →
    // ExecBRInsertTriggers) — same projection over the load frame
    appendFrame(spark, t, applyRowTriggers(table, src, "insert"))
  }

  /** `SELECT * FROM gp_read_error_log('t')` (cdbsreh.c error tables). */
  private val ReadErrorLogRe =
    ("(?is)^\\s*SELECT\\s+\\*\\s+FROM\\s+gp_read_error_log\\s*\\(\\s*" +
      "'(\\w+)'\\s*\\)\\s*$").r

  /** COPY TO: export a table or a parenthesised query to server-side CSV
    * (parallel, one file per partition — the MPP reading of copy.c's
    * single-file semantics; `ON SEGMENT` in GP likewise writes per-segment
    * files). Returns the exported frame. */
  def executeCopyTo(
      spark: SparkSession, table: Option[String], query: Option[String],
      path: String, opts: String): DataFrame = {
    val src = table match {
      case Some(tn) => catalog.get(tn.toLowerCase) match {
        case Some(t) if t.format == "csv" =>
          spark.read.schema(t.schema).option("header", "true").csv(t.path)
        case _ => spark.table(tn)
      }
      case None => spark.sql(query.getOrElse(
        throw new IllegalArgumentException("COPY TO needs a table or query")))
    }
    graft.sources.ExternalTables.writeCsv(
      src, path, header = copyHasHeader(opts))
    src
  }

  // ---- expression-level PG rewrites ----------------------------------

  /** PG expression syntax Spark's parser lacks, rewritten textually
    * before execution:
    *  - `x SIMILAR TO 'pat'` → `regexp_like(x, '^pat′$')` with SQL
    *    wildcards converted (% → .*, _ → .) — PG's similar_escape
    *    (utils/adt/regexp.c:687), full-anchored like PG;
    *  - `x NOT SIMILAR TO 'pat'` → `NOT regexp_like(...)`;
    *  - `x BETWEEN SYMMETRIC a AND b` → least/greatest bounds
    *    (gram.y b_expr BETWEEN SYMMETRIC). */
  private val SimilarToRe =
    "(?is)([\\w.]+)\\s+(NOT\\s+)?SIMILAR\\s+TO\\s+'([^']*)'".r
  /** PG regex-match operators (gram.y a_expr `~` / `~*` / `!~` / `!~*`,
    * utils/adt/regexp.c textregexeq): `x ~ 'pat'` → regexp_like, `*`
    * variants case-insensitive via an inline (?i). Pattern must be a
    * string literal (the overwhelmingly common form); alternatives are
    * ordered longest-first so `!~*` never half-matches as `~`. */
  private val RegexOpRe =
    "(?s)([\\w.]+|'[^']*')\\s*(!~\\*|!~|~\\*|~)\\s*'([^']*)'".r
  private val BetweenSymRe =
    ("(?is)([\\w.]+)\\s+BETWEEN\\s+SYMMETRIC\\s+" +
      "([\\w.']+)\\s+AND\\s+([\\w.']+)").r

  private[graft] def similarToRegex(pat: String): String = {
    val sb = new StringBuilder("^")
    pat.foreach {
      case '%' => sb ++= ".*"
      case '_' => sb += '.'
      case c => sb += c
    }
    sb += '$'
    sb.toString
  }

  /** `t TABLESAMPLE BERNOULLI(p) [REPEATABLE(s)]` (gram.y
    * tablesample_clause; PG's BERNOULLI scans all rows and keeps each
    * with probability p). Engine RNG sampling is not reproducible
    * across engines, cluster sizes, or re-runs — the property a data
    * pipeline actually needs — so this lowers onto DETERMINISTIC hash
    * sampling: keep rows where hash(whole row, seed) mod 1e6 < p·1e4.
    * Same row set every run, every partitioning; REPEATABLE picks the
    * hash seed (default seed 0). SYSTEM (page sampling) has no parquet
    * analogue and maps to the same rewrite. */
  private val TablesampleRe =
    ("(?is)\\b(\\w+)\\s+TABLESAMPLE\\s+(?:BERNOULLI|SYSTEM)\\s*\\(\\s*" +
      "([\\d.]+)\\s*(?:PERCENT)?\\s*\\)" +
      "(?:\\s+REPEATABLE\\s*\\(\\s*(\\d+)\\s*\\))?").r

  /** `expr AT TIME ZONE 'zone'` (timestamp.c timestamp_zone): Spark
    * timestamps are UTC instants, so the common timestamptz→wall-time
    * reading lowers to from_utc_timestamp. Simple operands only
    * (identifier, literal, or an already-parenthesised expression). */
  private val AtTimeZoneRe =
    ("(?is)((?:TIMESTAMP\\s+)?'[^']+'|[\\w.]+|\\([^()]*\\))" +
      "\\s+AT\\s+TIME\\s+ZONE\\s+'([^']+)'").r

  private def rewriteExpressions(sql: String): String = {
    val afterSimilar = SimilarToRe.replaceAllIn(sql, m => {
      val not = if (m.group(2) != null) "NOT " else ""
      java.util.regex.Matcher.quoteReplacement(
        s"${not}regexp_like(${m.group(1)}, '${similarToRegex(m.group(3))}')")
    })
    val afterRegexOp = RegexOpRe.replaceAllIn(afterSimilar, m => {
      val not = if (m.group(2).startsWith("!")) "NOT " else ""
      val ci = if (m.group(2).endsWith("*")) "(?i)" else ""
      java.util.regex.Matcher.quoteReplacement(
        s"${not}regexp_like(${m.group(1)}, '$ci${m.group(3)}')")
    })
    val afterBetween = BetweenSymRe.replaceAllIn(afterRegexOp, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} BETWEEN least(${m.group(2)}, ${m.group(3)}) " +
          s"AND greatest(${m.group(2)}, ${m.group(3)})"))
    val afterTz = AtTimeZoneRe.replaceAllIn(afterBetween, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"from_utc_timestamp(${m.group(1)}, '${m.group(2)}')"))
    // current_setting('x') (guc.c): substituted with the session GUC's
    // value at statement time, like PG's stable-function snapshot
    val afterGuc = "(?i)\\bcurrent_setting\\s*\\(\\s*'([\\w.]+)'\\s*\\)".r
      .replaceAllIn(afterTz, m =>
        java.util.regex.Matcher.quoteReplacement(
          "'" + gucs.getOrElse(m.group(1).toLowerCase,
            throw new IllegalArgumentException(
              s"""unrecognized configuration parameter "${m.group(1)}""""))
            .replace("'", "''") + "'"))
    val afterSample = TablesampleRe.replaceAllIn(afterGuc, m => {
      val table = m.group(1)
      val permille = (m.group(2).toDouble * 10000).round
      val seed = Option(m.group(3)).getOrElse("0")
      java.util.regex.Matcher.quoteReplacement(
        s"(SELECT * FROM $table WHERE pmod(abs(hash(struct(*), $seed)), " +
          s"1000000) < $permille) $table")
    })
    // xpath(path, xml) / xpath_exists(path, xml) (xml.c:4243,4340):
    // PG passes the path FIRST; Spark's native xpath/xpath_boolean take
    // the document first — swap at the call site. PG returns matched
    // nodes as xml[]; Spark returns their string values (documented
    // divergence — text()-selecting paths are identical).
    val afterXpath = rewriteCalls(afterSample, "xpath") {
      case Seq(path, doc) => s"xpath($doc, $path)"
    }
    val afterXpathEx = rewriteCalls(afterXpath, "xpath_exists") {
      case Seq(path, doc) => s"xpath_boolean($doc, $path)"
    }
    // contrib/intagg (intagg--1.0.sql:22,32) + gpcontrib/gp_array_agg:
    // array aggregation/enumeration under their contrib names
    val afterIntAgg = rewriteCalls(afterXpathEx, "int_array_aggregate") {
      case Seq(a) => s"array_agg($a)"
    }
    val afterGpArr = rewriteCalls(afterIntAgg, "gp_array_agg") {
      case Seq(a) => s"array_agg($a)"
    }
    val afterEnum = rewriteCalls(afterGpArr, "int_array_enum") {
      case Seq(a) => s"explode($a)"
    }
    // gpcontrib/gp_legacy_string_agg: the one-arg, no-delimiter
    // string_agg whose GP order is unspecified — lowered SORTED so the
    // result is deterministic across engines, runs, and cluster sizes
    // (documented strengthening; 2-arg string_agg is untouched)
    rewriteCalls(afterEnum, "string_agg") {
      case Seq(a) => s"concat_ws('', array_sort(array_agg($a)))"
    }
  }

  /** Rewrite every `name(arg, ...)` call in code whose top-level
    * argument list `repl` is defined at (balanced parens, single
    * left-to-right pass — replacements are not rescanned, so a rewrite
    * may reuse the same function name). Other calls pass through. */
  private def rewriteCalls(sql: String, name: String)(
      repl: PartialFunction[Seq[String], String]): String = {
    val call = s"(?i)(?<![\\w.])$name\\s*\\(".r
    val out = new StringBuilder
    var pos = 0
    for (m <- call.findAllMatchIn(SqlLex.mask(sql)) if m.start >= pos) {
      val close = SqlLex.matchParen(sql, m.end - 1)
      if (close >= 0) {
        val args = SqlLex.split(sql.substring(m.end, close), ',')
        repl.lift(args).foreach { r =>
          out ++= sql.substring(pos, m.start) ++= r
          pos = close + 1
        }
      }
    }
    out ++= sql.substring(pos)
    out.toString
  }

  // ---- scripts / prepared statements ---------------------------------

  /** Run a multi-statement script (`;`-separated, `--` comments and
    * dollar-quoted bodies respected) and return the last statement's
    * result — the psql-script entry point. */
  def executeScript(
      spark: SparkSession, script: String, basePath: String): DataFrame = {
    // psql meta-commands (\connect, \set, \echo ...) are client-side
    // directives, not SQL — dropped line-wise like pg_restore does
    val sql = script.linesIterator
      .filterNot(_.trim.startsWith("\\")).mkString("\n")
    val stmts = SqlLex.split(sql, ';')
    if (stmts.isEmpty) return spark.emptyDataFrame
    stmts.map(execute(spark, _, basePath)).last
  }

  /** `PREPARE name [(types)] AS stmt` / `EXECUTE name (args)` /
    * `DEALLOCATE name` (commands/prepare.c): the statement is recorded
    * with `$n` parameter slots; EXECUTE substitutes argument literals
    * and runs through the full dialect. */
  private val PrepareRe =
    "(?is)^\\s*PREPARE\\s+(\\w+)\\s*(?:\\(([^)]*)\\))?\\s+AS\\s+(.+)$".r
  private val ExecutePrepRe =
    "(?is)^\\s*EXECUTE\\s+(\\w+)\\s*(?:\\((.*)\\))?\\s*$".r
  private val DeallocateRe =
    "(?is)^\\s*DEALLOCATE\\s+(?:PREPARE\\s+)?(\\w+)\\s*$".r

  private val prepared =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def executePrepared(
      spark: SparkSession, name: String, args: Seq[String],
      basePath: String): DataFrame = {
    val body = prepared.getOrElse(name, throw new IllegalArgumentException(
      s"prepared statement $name does not exist"))
    val sub = args.zipWithIndex.foldLeft(body) { case (b, (a, i)) =>
      b.replaceAll("\\$" + (i + 1) + "\\b",
        java.util.regex.Matcher.quoteReplacement(a.trim))
    }
    execute(spark, sub, basePath)
  }

  // ---- sequences (commands/sequence.c; GP seqserver cdb/cdbvars.c) ---

  private val CreateSeqRe =
    "(?is)^\\s*CREATE\\s+SEQUENCE\\s+(\\w+)\\b(.*)$".r
  private val DropSeqRe =
    "(?is)^\\s*DROP\\s+SEQUENCE\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r
  private val SeqStartRe = "(?is)START\\s+(?:WITH\\s+)?(-?\\d+)".r
  private val SeqIncRe = "(?is)INCREMENT\\s+(?:BY\\s+)?(-?\\d+)".r
  private val SelectSeqFnRe =
    // setval's optional 3rd arg (is_called — pg_dump always emits it)
    // is accepted; the advance-before-next semantics it toggles
    // collapse here because currval tracks the last placed value
    ("(?is)^\\s*SELECT\\s+(nextval|currval|setval)\\s*\\(\\s*'(\\w+)'\\s*" +
      "(?:,\\s*(-?\\d+)\\s*(?:,\\s*(?:true|false)\\s*)?)?\\)" +
      "(?:\\s+AS\\s+\\w+)?\\s*$").r

  /** `SELECT nextval('seq') AS alias, rest FROM ... ORDER BY ...` —
    * the bulk-load shape. PG assigns in scan order (no guarantee); we
    * require an ORDER BY and assign in that order, distributed via
    * [[SequenceOps.assignIds]] (one reserved block, no per-row driver
    * traffic, no single-partition window). ORDER BY items must be
    * output columns of the select list. */
  private val BulkNextvalRe =
    ("(?is)^\\s*SELECT\\s+nextval\\s*\\(\\s*'(\\w+)'\\s*\\)\\s+AS\\s+(\\w+)" +
      "\\s*,\\s*(.+?\\s+FROM\\s+.+?)\\s+ORDER\\s+BY\\s+(.+?)\\s*$").r

  def executeCreateSequence(
      spark: SparkSession, name: String, opts: String): DataFrame = {
    val start = SeqStartRe.findFirstMatchIn(opts).map(_.group(1).toLong)
      .getOrElse(1L)
    val inc = SeqIncRe.findFirstMatchIn(opts).map(_.group(1).toLong)
      .getOrElse(1L)
    SequenceOps.create(name, start, inc)
    spark.emptyDataFrame
  }

  private def executeSequenceFn(
      spark: SparkSession, fn: String, seq: String,
      arg: Option[String]): DataFrame = {
    val v = fn match {
      case "nextval" => SequenceOps.nextval(seq)
      case "currval" => SequenceOps.currval(seq)
      case "setval" => SequenceOps.setval(seq, arg.map(_.toLong).getOrElse(
        throw new IllegalArgumentException("setval requires a value")))
    }
    spark.createDataFrame(
      java.util.List.of(Row(v)), StructType(Seq(StructField(fn, LongType))))
  }

  private def executeBulkNextval(
      spark: SparkSession, m: scala.util.matching.Regex.Match): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val (seq, alias, body, order) =
      (m.group(1), m.group(2), m.group(3), m.group(4))
    val src = spark.sql(s"SELECT $body ORDER BY $order")
    val orderCols = order.split(",").map(_.trim).filter(_.nonEmpty).map { o =>
      val desc = o.matches("(?is).*\\sDESC\\s*$")
      val c = expr(o.replaceAll("(?i)\\s+(ASC|DESC)\\s*$", ""))
      if (desc) c.desc else c
    }
    val withId =
      SequenceOps.assignFromSequence(src, seq, alias, orderCols.toSeq)
    withId.select((col(alias) +: src.columns.map(col)).toIndexedSeq: _*)
  }

  /** Run a SELECT body that may carry the bulk-nextval shape. */
  private def selectWithSequences(
      spark: SparkSession, body: String): DataFrame =
    BulkNextvalRe.findFirstMatchIn(body) match {
      case Some(m) => executeBulkNextval(spark, m)
      case None => spark.sql(body)
    }

  // ---- BEFORE ROW triggers (executor/nodeRowTrigger.c:450,
  // commands/trigger.c; r8) --------------------------------------------
  //
  // A Spark engine has no per-row procedure hook, but the dominant GP
  // row-trigger shape — a plpgsql fn of `NEW.col := expr` assignments
  // with optional `IF cond THEN RETURN NULL` validation skips, ending
  // `RETURN NEW` — IS a projection + filter, and a BEFORE ROW trigger
  // firing on every inserted/updated tuple is exactly that projection
  // applied to the DML's source relation: set-based, codegen'd, zero
  // per-row calls. Triggers fire in name order (PG). AFTER triggers
  // stay on the CDC delta-view path (operators/Cdc.scala); INSTEAD OF,
  // statement-level, WHEN clauses, argument lists, and OLD.* references
  // reject loudly.

  sealed private trait TrigStep
  private case class TrigSkip(cond: String) extends TrigStep
  private case class TrigAssign(col: String, expr: String) extends TrigStep
  private val triggerFnBodies =
    scala.collection.concurrent.TrieMap.empty[String, Seq[TrigStep]]
  // fns whose body references OLD.* — composable on the UPDATE path
  // (the pre-image is the scanned relation), meaningless for INSERT
  private val triggerFnUsesOld =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  // OLD.col parse token: survives NEW-env substitution untouched (env
  // keys never match inside it) and resolves to the bare pre-image
  // column in the final composed UPDATE
  private val OldTokenRe = "(?i)__trig_old_(\\w+)\\b".r
  /** Tokenize a row-trigger expression: NEW.col → the bare column,
    * OLD.col → its [[OldTokenRe]] token; quoted text is data. */
  private def trigTokens(e: String): String = SqlLex.mapCode(e)(
    _.replaceAll("(?i)(?<![\\w.])OLD\\.(\\w+)", "__trig_old_$1")
      .replaceAll("(?i)(?<![\\w.])NEW\\.", ""))
  // `when`: the CREATE TRIGGER ... WHEN (cond) predicate, stored
  // TOKENIZED (NEW. stripped to bare column, OLD.col → __trig_old_col)
  // — PG evaluates it once per row at trigger entry (trigger.c
  // TriggerEnabled); a false WHEN means the fn does not fire and the
  // row passes through UNCHANGED (not skipped).
  private case class TriggerDef(name: String, events: Set[String],
    fn: String, when: Option[String] = None,
    args: Seq[String] = Nil)
  // statement-level triggers (commands/trigger.c FOR EACH STATEMENT):
  // fire ONCE per DML statement, before or after it; the fn body is a
  // recorded straight-line DML sequence (triggerFnStmtBodies)
  private case class StmtTriggerDef(name: String, timing: String,
    events: Set[String], fn: String,
    oldTab: Option[String] = None, newTab: Option[String] = None)
  private val tableStmtTriggers =
    scala.collection.concurrent.TrieMap.empty[String, Vector[StmtTriggerDef]]
  // trigger fns whose body is straight-line DML with no row context —
  // attachable FOR EACH STATEMENT (independent of the row tier)
  private val triggerFnStmtBodies =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
  private val tableTriggers =
    scala.collection.concurrent.TrieMap.empty[String, Vector[TriggerDef]]

  private val CreateTriggerRe =
    ("(?is)^\\s*CREATE\\s+TRIGGER\\s+(\\w+)\\s+BEFORE\\s+" +
      "(INSERT|UPDATE|INSERT\\s+OR\\s+UPDATE|UPDATE\\s+OR\\s+INSERT)\\s+" +
      "ON\\s+(\\w+)\\s+FOR\\s+EACH\\s+ROW\\s+" +
      "(?:WHEN\\s*\\((.+)\\)\\s+)?" +
      "EXECUTE\\s+(?:FUNCTION|PROCEDURE)\\s+(\\w+)\\s*" +
      "\\(\\s*([^)]*?)\\s*\\)\\s*$").r
  /** Trigger arguments (commands/trigger.c tgargs → plpgsql TG_ARGV):
    * PG passes every argument as TEXT; the supported literal forms
    * are single-quoted strings and bare numerics. */
  private def parseTriggerArgs(raw: String, trigName: String)
      : Seq[String] =
    SqlLex.split(raw, ',').map {
      case a if a.startsWith("'") && a.endsWith("'") && a.length >= 2 =>
        a.substring(1, a.length - 1).replace("''", "'")
      case a if a.matches("-?\\d+(\\.\\d+)?") => a
      case bad => throw new UnsupportedOperationException(
        s"trigger $trigName: argument $bad is not a quoted string or " +
          "numeric literal (tgargs are constant text in PG)")
    }
  /** Bind TG_ARGV[n] tokens in a trigger-body expression to the
    * attached trigger's argument literals. */
  private def substTgArgs(e: String, args: Seq[String],
      trigName: String): String =
    "(?i)TG_ARGV\\s*\\[\\s*(\\d+)\\s*\\]".r.replaceAllIn(e, m => {
      val n = m.group(1).toInt
      if (n >= args.length)
        throw new UnsupportedOperationException(
          s"trigger $trigName: body references TG_ARGV[$n] but only " +
            s"${args.length} argument(s) were attached")
      java.util.regex.Matcher.quoteReplacement(
        "'" + args(n).replace("'", "''") + "'")
    })
  private val DropTriggerRe =
    "(?is)^\\s*DROP\\s+TRIGGER\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s+ON\\s+(\\w+)\\s*$".r
  // statement-level shape: FOR EACH STATEMENT explicit, or omitted
  // (PG defaults to statement-level when no FOR EACH clause is given)
  private val CreateStmtTriggerRe =
    ("(?is)^\\s*CREATE\\s+TRIGGER\\s+(\\w+)\\s+(BEFORE|AFTER)\\s+" +
      "((?:INSERT|UPDATE|DELETE)(?:\\s+OR\\s+(?:INSERT|UPDATE|DELETE))*)" +
      "\\s+ON\\s+(\\w+)\\s+(?:FOR\\s+EACH\\s+STATEMENT\\s+)?" +
      "EXECUTE\\s+(?:FUNCTION|PROCEDURE)\\s+(\\w+)\\s*\\(\\s*\\)\\s*$").r
  // transition-table shape (trigger.c AfterTriggerSaveEvent;
  // REFERENCING OLD/NEW TABLE): AFTER STATEMENT only, per PG
  private val CreateStmtTrigTransRe =
    ("(?is)^\\s*CREATE\\s+TRIGGER\\s+(\\w+)\\s+(BEFORE|AFTER)\\s+" +
      "((?:INSERT|UPDATE|DELETE)(?:\\s+OR\\s+(?:INSERT|UPDATE|DELETE))*)" +
      "\\s+ON\\s+(\\w+)\\s+REFERENCING\\s+" +
      "((?:(?:OLD|NEW)\\s+TABLE\\s+AS\\s+\\w+\\s+){1,2})" +
      "FOR\\s+EACH\\s+STATEMENT\\s+" +
      "EXECUTE\\s+(?:FUNCTION|PROCEDURE)\\s+(\\w+)\\s*\\(\\s*\\)\\s*$").r
  private val TransItemRe = "(?is)(OLD|NEW)\\s+TABLE\\s+AS\\s+(\\w+)".r

  /** Attach a statement-level trigger: the fn must have a recorded
    * straight-line-DML body (no row context). Fires once per matching
    * DML statement on the table, in name order, cascading through
    * nested DML with a depth guard. */
  def executeCreateStmtTrigger(
      spark: SparkSession, trigName: String, timing: String,
      eventsRaw: String, table: String, fn: String,
      oldTab: Option[String] = None, newTab: Option[String] = None)
      : DataFrame = {
    val fnLc = fn.toLowerCase
    if (!triggerFnStmtBodies.contains(fnLc))
      throw new UnsupportedOperationException(
        s"statement trigger $trigName: function $fn must be a RETURNS " +
          "trigger fn whose body is straight-line INSERT/UPDATE/DELETE " +
          "statements (statement-level triggers have no NEW/OLD row " +
          "context; transition tables are referenced by their " +
          "REFERENCING names)" + deferredPlpgsql.get(fnLc)
            .map(w => s"; recorded body issue: $w").getOrElse(""))
    val events = eventsRaw.toUpperCase.split("\\s+OR\\s+")
      .map(_.trim.toLowerCase).toSet
    val lc = table.toLowerCase
    if (oldTab.nonEmpty || newTab.nonEmpty) {
      // PG constraints (trigger.c CreateTrigger): transition tables
      // attach to AFTER triggers; OLD TABLE needs a delete/update
      // event, NEW TABLE an insert/update event
      if (timing.toLowerCase != "after")
        throw new UnsupportedOperationException(
          s"trigger $trigName: transition tables are only allowed on " +
            "AFTER triggers")
      if (oldTab.nonEmpty && !events.exists(Set("update", "delete")))
        throw new UnsupportedOperationException(
          s"trigger $trigName: OLD TABLE requires an UPDATE or DELETE " +
            "event")
      if (newTab.nonEmpty && !events.exists(Set("insert", "update")))
        throw new UnsupportedOperationException(
          s"trigger $trigName: NEW TABLE requires an INSERT or UPDATE " +
            "event")
      val t = catalog.getOrElse(lc,
        throw new UnsupportedOperationException(
          s"trigger $trigName: transition tables need a cataloged " +
            s"table — $table is not CREATE TABLE-managed"))
      // COW DML (UPDATE/DELETE/MERGE) retains its displaced pre-image
      // by RENAME when capture is on — zero rows copied; pure INSERTs
      // are delta'd file-granularly and need no capture
      if (events.exists(Set("update", "delete")))
        graft.operators.Cdc.enable(t.path)
    }
    tableStmtTriggers(lc) = (tableStmtTriggers.getOrElse(lc, Vector.empty)
      .filterNot(_.name == trigName.toLowerCase) :+
      StmtTriggerDef(trigName.toLowerCase, timing.toLowerCase, events,
        fnLc, oldTab.map(_.toLowerCase), newTab.map(_.toLowerCase)))
      .sortBy(_.name)
    spark.emptyDataFrame
  }

  // ---- INSTEAD OF triggers on views (commands/trigger.c; PG's
  // updatable-view shim: the trigger fn's body is a chain of
  // INSERT/UPDATE/DELETE statements against base tables whose
  // expressions reference NEW.col / OLD.col, so a DML of N rows
  // against the view IS those statements evaluated SET-BASED over the
  // affected view rows — NEW/OLD become columns of one derived
  // relation, zero per-row calls. INSERT binds NEW only; UPDATE binds
  // both (OLD = the matched view row, NEW = OLD with SET applied);
  // DELETE binds OLD only. ----------------------------------------------
  private sealed trait InsteadStep { def table: String }
  private case class InsteadInsert(table: String,
    cols: Option[Seq[String]], vals: Seq[String]) extends InsteadStep
  private case class InsteadUpdate(table: String,
    sets: Seq[(String, String)], where: String) extends InsteadStep
  private case class InsteadDelete(table: String, where: String)
    extends InsteadStep
  // trigger fns whose body is a base-table DML chain over NEW/OLD
  private val triggerFnInsteadBodies =
    scala.collection.concurrent.TrieMap.empty[String, Seq[InsteadStep]]
  // fn → body references OLD.* (illegal for the INSERT event)
  private val triggerFnInsteadUsesOld =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  // "view/event" → (trigger name, fn); PG allows ONE INSTEAD OF
  // trigger per event per view, so each slot is scalar
  private val viewInsteadTriggers =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val InsteadInsRe =
    ("(?is)^INSERT\\s+INTO\\s+(\\w+)\\s*(?:\\(([\\w\\s,]+)\\)\\s*)?" +
      "VALUES\\s*\\((.+)\\)$").r
  private val InsteadUpdRe =
    "(?is)^UPDATE\\s+(\\w+)\\s+SET\\s+(.+?)\\s+WHERE\\s+(.+)$".r
  private val InsteadDelRe =
    "(?is)^DELETE\\s+FROM\\s+(\\w+)\\s+WHERE\\s+(.+)$".r
  private val CreateInsteadTriggerRe =
    ("(?is)^\\s*CREATE\\s+TRIGGER\\s+(\\w+)\\s+INSTEAD\\s+OF\\s+(\\w+)" +
      "\\s+ON\\s+(\\w+)\\s+FOR\\s+EACH\\s+ROW\\s+" +
      "EXECUTE\\s+(?:FUNCTION|PROCEDURE)\\s+(\\w+)\\s*\\(\\s*\\)\\s*$").r

  def executeCreateInsteadTrigger(
      spark: SparkSession, trigName: String, event: String, view: String,
      fn: String): DataFrame = {
    val ev = event.toLowerCase
    if (!Set("insert", "update", "delete").contains(ev))
      throw new UnsupportedOperationException(
        s"INSTEAD OF ${event.toUpperCase} is not a trigger event " +
          "(INSERT/UPDATE/DELETE)")
    val fnLc = fn.toLowerCase
    if (!triggerFnInsteadBodies.contains(fnLc))
      throw new UnsupportedOperationException(
        s"INSTEAD OF trigger $trigName: function $fn must be a RETURNS " +
          "trigger fn whose body is `INSERT INTO base [(cols)] VALUES " +
          "(...)` / `UPDATE base SET ... WHERE ...` / `DELETE FROM base " +
          "WHERE ...` statements over NEW.col/OLD.col" +
          deferredPlpgsql.get(fnLc)
            .map(w => s"; recorded body issue: $w").getOrElse(""))
    if (ev == "insert" && triggerFnInsteadUsesOld.getOrElse(fnLc, false))
      throw new UnsupportedOperationException(
        s"INSTEAD OF trigger $trigName: function $fn references OLD.* — " +
          "OLD is unassigned for the INSERT event")
    if (!sessionViews.contains(view.toLowerCase))
      throw new IllegalArgumentException(
        s"INSTEAD OF trigger $trigName: view $view does not exist " +
          "(INSTEAD OF attaches to views only)")
    viewInsteadTriggers(s"${view.toLowerCase}/$ev") =
      (trigName.toLowerCase, fnLc)
    spark.emptyDataFrame
  }

  /** NEW.x → __iof_new_x, OLD.x → __iof_old_x outside string
    * literals — the bound-relation column naming for INSTEAD OF
    * bodies. */
  private def substNewOld(e: String): String =
    SqlLex.mapCode(e)(
      _.replaceAll("(?i)(?<![\\w.])NEW\\.(\\w+)", "__iof_new_$1")
        .replaceAll("(?i)(?<![\\w.])OLD\\.(\\w+)", "__iof_old_$1"))

  /** Run one INSTEAD OF trigger body over the bound relation (columns
    * `__iof_new_c` / `__iof_old_c` for each view column): each body
    * statement evaluates SET-BASED against ALL affected rows at once.
    * Body INSERTs still fire base-table BEFORE ROW triggers (PG
    * nesting); body UPDATE/DELETE reject on triggered bases like the
    * other composed DML paths. Each step re-resolves the views that read
    * its table, as every write does ([[refreshViews]]). */
  private def runInsteadSteps(
      spark: SparkSession, trigName: String, fn: String,
      bound: DataFrame): Unit = {
    import org.apache.spark.sql.functions.expr
    val steps = triggerFnInsteadBodies.getOrElse(fn,
      throw new UnsupportedOperationException(
        s"INSTEAD OF trigger $trigName: function $fn() no longer has " +
          "a base-table DML body — DROP TRIGGER or restore a " +
          "supported body"))
    steps.foreach { st =>
      val t = catalog.getOrElse(st.table,
        throw new IllegalArgumentException(
          s"INSTEAD OF trigger $trigName: base table ${st.table} " +
            "does not exist"))
      st match {
        case InsteadInsert(table, cols, vals) =>
          val frame = bound.select(vals.zipWithIndex.map { case (e, i) =>
            expr(substNewOld(e)).as(s"_c$i") }: _*)
          appendFrame(spark, t,
            applyRowTriggers(table, alignFrame(t, frame, cols), "insert"))
        case InsteadUpdate(table, sets, where) =>
          rejectTriggersOn(table, Set("update"),
            "an INSTEAD OF body UPDATE")
          mergeTable(spark, t,
            Some(Dml.Source(bound, expr(substNewOld(where)))),
            Seq(Dml.Matched(None, Dml.Update(sets.map { case (k, v) =>
              k -> expr(substNewOld(v)) }.toMap))))
        case InsteadDelete(table, where) =>
          rejectTriggersOn(table, Set("delete"),
            "an INSTEAD OF body DELETE")
          mergeTable(spark, t,
            Some(Dml.Source(bound, expr(substNewOld(where)))),
            Seq(Dml.Matched(None, Dml.Delete)))
      }
    }
  }

  /** INSERT INTO a view bearing an INSTEAD OF INSERT trigger: align
    * the incoming rows to the VIEW's schema (that relation IS the
    * set of NEW rows), then run the body over it. */
  def executeInsertInstead(
      spark: SparkSession, view: String, rest: String,
      colList: Option[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (trigName, fn) = viewInsteadTriggers(s"$view/insert")
    val vSchema = spark.table(view).schema
    val body = rest.trim
    val src0 =
      if (body.toUpperCase.startsWith("VALUES"))
        spark.sql(s"SELECT * FROM ($body) AS v")
      else selectWithSequences(spark, body)
    val src = (colList match {
      case Some(cs) =>
        require(src0.columns.length == cs.length,
          s"INSERT INTO $view (${cs.mkString(",")}): " +
            s"${src0.columns.length} values for ${cs.length} columns")
        val renamed = src0.toDF(cs: _*)
        renamed.select(vSchema.map(f =>
          if (cs.contains(f.name))
            col(f.name).cast(f.dataType).as(s"__iof_new_${f.name}")
          else lit(null).cast(f.dataType).as(s"__iof_new_${f.name}"))
          .toSeq: _*)
      case None =>
        require(src0.columns.length == vSchema.length,
          s"INSERT INTO $view: ${src0.columns.length} columns, " +
            s"expected ${vSchema.length}")
        src0.toDF(vSchema.fieldNames.toSeq: _*)
          .select(vSchema.fields.map(f =>
            col(f.name).cast(f.dataType).as(s"__iof_new_${f.name}"))
            .toSeq: _*)
    }).localCheckpoint(eager = true)
    runInsteadSteps(spark, trigName, fn, src)
    spark.emptyDataFrame
  }

  /** UPDATE on a view bearing an INSTEAD OF UPDATE trigger: the
    * affected view rows (WHERE applied against the VIEW) bind OLD;
    * NEW is OLD with the statement's SET list applied — both become
    * columns of ONE derived relation the body runs over set-based. */
  def executeUpdateInstead(
      spark: SparkSession, view: String, setClause: String,
      where: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val (trigName, fn) = viewInsteadTriggers(s"$view/update")
    val v = spark.table(view)
    val setPairs = setList(setClause).toMap
    setPairs.keys.foreach(k =>
      require(v.columns.map(_.toLowerCase).contains(k),
        s"UPDATE $view: column $k does not exist in the view"))
    val aff = v.filter(coalesce(
      where.map(expr).getOrElse(lit(true)), lit(false)))
    // one relation carrying both images: NEW = SET applied over the
    // old row (SET expressions reference view columns = OLD values)
    val bound = aff.select(
      (v.columns.map(c => col(c).as(s"__iof_old_${c.toLowerCase}")) ++
        v.columns.map(c => setPairs.get(c.toLowerCase)
          .map(s => expr(s).cast(v.schema(c).dataType))
          .getOrElse(col(c)).as(s"__iof_new_${c.toLowerCase}"))).toSeq: _*)
      .localCheckpoint(eager = true)
    runInsteadSteps(spark, trigName, fn, bound)
    spark.emptyDataFrame
  }

  /** DELETE on a view bearing an INSTEAD OF DELETE trigger: the
    * affected view rows bind OLD; the body runs over them set-based. */
  def executeDeleteInstead(
      spark: SparkSession, view: String,
      where: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val (trigName, fn) = viewInsteadTriggers(s"$view/delete")
    val v = spark.table(view)
    val bound = v.filter(coalesce(
      where.map(expr).getOrElse(lit(true)), lit(false)))
      .select(v.columns.map(c =>
        col(c).as(s"__iof_old_${c.toLowerCase}")).toSeq: _*)
      .localCheckpoint(eager = true)
    runInsteadSteps(spark, trigName, fn, bound)
    spark.emptyDataFrame
  }

  /** DML statement-type + target of a top-level statement, for
    * statement-trigger dispatch. */
  private val DmlInsertRe = "(?is)^\\s*INSERT\\s+INTO\\s+([\\w.]+)".r
  private val DmlUpdateRe =
    "(?is)^\\s*UPDATE\\s+(?:ONLY\\s+)?([\\w.]+)\\s+SET\\b".r
  private val DmlDeleteRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+(?:ONLY\\s+)?([\\w.]+)".r
  private def dmlTarget(sql: String): Option[(String, String)] = {
    def bare(t: String) = t.split('.').last.toLowerCase
    DmlInsertRe.findFirstMatchIn(sql).map(m => (bare(m.group(1)), "insert"))
      .orElse(DmlUpdateRe.findFirstMatchIn(sql)
        .map(m => (bare(m.group(1)), "update")))
      .orElse(DmlDeleteRe.findFirstMatchIn(sql)
        .map(m => (bare(m.group(1)), "delete")))
  }

  private val stmtTrigDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  /** A table's data files — the file-granular delta basis for
    * transition tables: O(metadata), zero rows read. */
  private def listDataFiles(spark: SparkSession, t: GpTable): Set[String] =
    Dml.dataFiles(spark, t.path).map(_.getPath.toString).toSet

  /** Bind a transition-table trigger's OLD/NEW TABLE temp views for
    * the statement that just ran (trigger.c AfterTriggerSaveEvent,
    * restated set-based — the transition relation IS a DataFrame):
    *
    *  - append-only statement (all pre-statement files survive): the
    *    NEW TABLE is exactly the freshly-appended files — a
    *    file-granular delta, no diff join, no extra scan of old data.
    *  - COW statement (UPDATE/DELETE/MERGE swapped the directory):
    *    the displaced pre-image was retained by RENAME (capture was
    *    enabled at CREATE TRIGGER — zero rows copied) and the
    *    transition relations are the two bag-differences, the same
    *    shuffle class as the write that produced them. Like
    *    [[graft.operators.Cdc.changes]], no-op updates (identical
    *    old/new row) cancel out of both relations.
    */
  private def bindTransitionTables(
      spark: SparkSession, tg: StmtTriggerDef, table: String,
      preFiles: Set[String]): Unit = {
    val t = catalog.getOrElse(table.toLowerCase,
      throw new IllegalStateException(
        s"transition trigger ${tg.name}: table $table left the catalog"))
    val curFiles = listDataFiles(spark, t)
    def readFiles(fset: Set[String]): DataFrame =
      if (fset.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
      else
        spark.read.option("basePath", t.path).parquet(fset.toSeq: _*)
    val (oldDf, newDf) =
      if (preFiles.subsetOf(curFiles))
        (readFiles(Set.empty), readFiles(curFiles -- preFiles))
      else {
        val prevDir = graft.operators.Cdc.preImagePath(t.path)
        val pp = new org.apache.hadoop.fs.Path(prevDir)
        val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(pp))
          throw new UnsupportedOperationException(
            s"transition trigger ${tg.name} on $table: the statement " +
              "rewrote table files but no pre-image was retained — " +
              "ALTER TABLE ... PARTITION does not capture " +
              "(see operators/Cdc.scala scope)")
        val prev = spark.read.parquet(prevDir)
        val cur = readTable(spark, t)
        (prev.exceptAll(cur), cur.exceptAll(prev))
      }
    tg.oldTab.foreach(n => oldDf.createOrReplaceTempView(n))
    tg.newTab.foreach(n => newDf.createOrReplaceTempView(n))
  }

  /** Fire the table's statement-level triggers for (event, timing):
    * each recorded body statement executes through the dialect, so
    * trigger-body DML cascades (further statement triggers fire) with
    * a depth guard against self-recursive audit shapes. */
  private def fireStmtTriggers(
      spark: SparkSession, table: String, event: String, timing: String,
      basePath: String, preFiles: Option[Set[String]] = None): Unit = {
    val trigs = tableStmtTriggers.getOrElse(table.toLowerCase, Vector.empty)
      .filter(t => t.timing == timing && t.events.contains(event))
    if (trigs.isEmpty) return
    if (stmtTrigDepth.get >= 8)
      throw new IllegalStateException(
        s"statement-trigger cascade depth exceeded on $table " +
          "(self-recursive trigger?)")
    stmtTrigDepth.set(stmtTrigDepth.get + 1)
    try trigs.foreach { tg =>
      val body = triggerFnStmtBodies.getOrElse(tg.fn,
        throw new UnsupportedOperationException(
          s"statement trigger ${tg.name} on $table: function " +
            s"${tg.fn}() no longer has a straight-line DML body — " +
            "DROP TRIGGER or restore a supported body"))
      if (tg.oldTab.nonEmpty || tg.newTab.nonEmpty)
        bindTransitionTables(spark, tg, table,
          preFiles.getOrElse(Set.empty))
      body.foreach(st => executeWithStmtTriggers(spark, st, basePath))
    } finally stmtTrigDepth.set(stmtTrigDepth.get - 1)
  }

  /** DML statements route here (from [[execute]]): statement-level
    * triggers fire around the statement; AFTER fires only when the
    * statement succeeded (PG abort semantics). Transition-table
    * triggers snapshot the table's FILE LISTING pre-statement
    * (O(metadata)) so the post-statement delta can bind file-granular
    * for appends. */
  private def executeWithStmtTriggers(
      spark: SparkSession, gpSql: String, basePath: String): DataFrame = {
    val target =
      if (tableStmtTriggers.isEmpty) None else dmlTarget(gpSql)
    val preFiles: Option[Set[String]] = target.flatMap { case (t, ev) =>
      val needsTrans = tableStmtTriggers
        .getOrElse(t.toLowerCase, Vector.empty)
        .exists(tg => tg.timing == "after" && tg.events.contains(ev) &&
          (tg.oldTab.nonEmpty || tg.newTab.nonEmpty))
      if (needsTrans)
        catalog.get(t.toLowerCase).map(listDataFiles(spark, _))
      else None
    }
    target.foreach { case (t, ev) =>
      fireStmtTriggers(spark, t, ev, "before", basePath) }
    val out = executeImpl(spark, gpSql, basePath)
    target.foreach { case (t, ev) =>
      fireStmtTriggers(spark, t, ev, "after", basePath, preFiles) }
    out
  }

  /** RETURNS trigger body tier: `NEW.col := expr;` assignments,
    * `IF cond THEN RETURN NULL; END IF;` skips, terminal `RETURN NEW`.
    * `OLD.col` references lower too (nodeRowTrigger.c:450 binds the
    * pre-image tuple): they tokenize at parse time and resolve to the
    * bare pre-image column on the UPDATE compose path — an OLD-using
    * trigger can only attach to UPDATE events (PG leaves OLD unassigned
    * on INSERT; referencing it there errors, so CREATE TRIGGER ...
    * INSERT rejects loudly). Anything else (loops, TG_OP dispatch)
    * records a loud defer — CREATE TRIGGER on it then raises with the
    * reason. */
  def executeCreateTriggerFn(
      spark: SparkSession, name: String, body0: String): DataFrame = {
    def defer(why: String): DataFrame = {
      deferredPlpgsql(name) = why
      triggerFnBodies.remove(name)
      triggerFnUsesOld.remove(name)
      spark.emptyDataFrame
    }
    triggerFnStmtBodies.remove(name) // re-derived below on every CREATE
    triggerFnInsteadBodies.remove(name)
    triggerFnInsteadUsesOld.remove(name)
    val rawBody = body0.trim match {
      case PlBodyRe(d, s) =>
        if (Option(d).exists(_.trim.nonEmpty))
          return defer("trigger function DECLARE section")
        s.trim
      case other => return defer(firstStatement(other))
    }
    val parts = SqlLex.split(rawBody, ';')
    val masked = SqlLex.mask(rawBody)
    val usesOld = "(?i)(?<![\\w.])OLD\\.".r.findFirstIn(masked).isDefined
    // statement-level tier (commands/trigger.c: FOR EACH STATEMENT —
    // the audit-log migration shape): a body of straight-line
    // INSERT/UPDATE/DELETE statements with no row context (no NEW/OLD/
    // TG_*), optional terminal RETURN NULL/NEW. Recorded independently
    // of the row tier: the SAME fn name can attach FOR EACH STATEMENT
    // even though it defers as a row trigger.
    locally {
      val dmls = parts.takeWhile(p =>
        "(?is)^(INSERT|UPDATE|DELETE)\\b".r.findFirstIn(p).isDefined)
      val rest = parts.drop(dmls.length)
      val noRowCtx = "(?i)(?<![\\w.])(NEW|OLD|TG_\\w+)(?![\\w])".r
        .findFirstIn(masked).isEmpty
      if (dmls.nonEmpty && noRowCtx &&
        (rest.isEmpty || (rest.length == 1 &&
          rest.head.matches("(?is)^RETURN\\s+(NULL|NEW)$"))))
        triggerFnStmtBodies(name) = dmls
    }
    // INSTEAD OF tier: a chain of INSERT INTO base VALUES(...) /
    // UPDATE base SET ... WHERE ... / DELETE FROM base WHERE ...
    // whose expressions reference NEW.col / OLD.col (the
    // updatable-view shim). Expressions are recorded RAW; NEW/OLD
    // bind to the affected-rows relation at fire time. OLD use is
    // recorded so CREATE TRIGGER ... INSTEAD OF INSERT can reject it.
    locally {
      def parseStep(p: String): Option[InsteadStep] = p match {
        case InsteadInsRe(tbl, cols, vals) =>
          Some(InsteadInsert(tbl.toLowerCase,
            Option(cols).map(_.split(",").map(_.trim.toLowerCase)
              .filter(_.nonEmpty).toSeq),
            SqlLex.split(vals, ',')))
        case InsteadUpdRe(tbl, sets, where) =>
          Some(InsteadUpdate(tbl.toLowerCase, setList(sets), where.trim))
        case InsteadDelRe(tbl, where) =>
          Some(InsteadDelete(tbl.toLowerCase, where.trim))
        case _ => None
      }
      val steps = parts.map(parseStep).takeWhile(_.isDefined).flatten
      val rest = parts.drop(steps.length)
      val noTg = "(?i)(?<![\\w.])TG_\\w+".r.findFirstIn(masked).isEmpty
      if (steps.nonEmpty && noTg &&
        (rest.isEmpty || (rest.length == 1 &&
          rest.head.matches("(?is)^RETURN\\s+(NULL|NEW|OLD)$")))) {
        triggerFnInsteadBodies(name) = steps
        triggerFnInsteadUsesOld(name) = usesOld
      }
    }
    val AssignNewRe = "(?is)^NEW\\.(\\w+)\\s*:=\\s*(.+)$".r
    val SkipIfRe = "(?is)^IF\\s+(.+?)\\s+THEN\\s+RETURN\\s+NULL$".r
    val steps = scala.collection.mutable.ArrayBuffer.empty[TrigStep]
    var i = 0
    while (i < parts.length) {
      parts(i) match {
        case SkipIfRe(cond) if i + 1 < parts.length &&
            parts(i + 1).matches("(?is)^END\\s+IF$") =>
          steps += TrigSkip(trigTokens(cond)); i += 2
        case AssignNewRe(c, e) =>
          steps += TrigAssign(c.toLowerCase, trigTokens(e)); i += 1
        case r if r.matches("(?is)^RETURN\\s+NEW$") && i == parts.length - 1 =>
          i += 1
        case other => return defer(firstStatement(other))
      }
    }
    triggerFnBodies(name) = steps.toSeq
    triggerFnUsesOld(name) = usesOld
    deferredPlpgsql.remove(name)
    spark.emptyDataFrame
  }

  def executeCreateTrigger(
      spark: SparkSession, trigName: String, eventsRaw: String,
      table: String, fn: String, whenRaw: Option[String] = None,
      args: Seq[String] = Nil): DataFrame = {
    val fnLc = fn.toLowerCase
    if (!triggerFnBodies.contains(fnLc)) {
      val why = deferredPlpgsql.get(fnLc)
        .map(w => s"trigger function $fn is not executable: $w")
        .getOrElse(s"trigger function $fn does not exist or does not " +
          "RETURN trigger")
      throw new UnsupportedOperationException(why)
    }
    val events = eventsRaw.toUpperCase.split("\\s+OR\\s+")
      .map(_.trim.toLowerCase).toSet
    if (events.contains("insert") && triggerFnUsesOld.getOrElse(fnLc, false))
      throw new UnsupportedOperationException(
        s"trigger function $fn references OLD.* — OLD is unassigned in " +
          "BEFORE INSERT triggers; attach it to UPDATE only")
    // WHEN (cond): tokenize like the body — NEW. strips to the bare
    // column, OLD.col becomes the pre-image token; OLD in WHEN is
    // UPDATE-only for the same reason as OLD in the body
    val when = whenRaw.map { w =>
      val t = trigTokens(w.trim)
      if (events.contains("insert") && OldTokenRe.findFirstIn(t).isDefined)
        throw new UnsupportedOperationException(
          s"trigger $trigName WHEN clause references OLD.* — OLD is " +
            "unassigned in BEFORE INSERT triggers; attach it to UPDATE " +
            "only")
      t
    }
    // TG_ARGV arity check at ATTACH time (PG validates lazily at fire;
    // failing early beats a mid-DML error)
    val argvRefs = (triggerFnBodies.getOrElse(fnLc, Nil).flatMap {
      case TrigSkip(c) => Seq(c)
      case TrigAssign(_, e) => Seq(e)
    } ++ when.toSeq).flatMap(
      "(?i)TG_ARGV\\s*\\[\\s*(\\d+)\\s*\\]".r.findAllMatchIn(_)
        .map(_.group(1).toInt))
    argvRefs.filter(_ >= args.length).sorted.headOption.foreach(n =>
      throw new UnsupportedOperationException(
        s"trigger $trigName: function $fn references TG_ARGV[$n] but " +
          s"the trigger attaches only ${args.length} argument(s)"))
    val lc = table.toLowerCase
    tableTriggers(lc) = (tableTriggers.getOrElse(lc, Vector.empty)
      .filterNot(_.name == trigName.toLowerCase) :+
      TriggerDef(trigName.toLowerCase, events, fnLc, when, args))
      .sortBy(_.name)
    spark.emptyDataFrame
  }

  def executeDropTrigger(
      spark: SparkSession, trigName: String, table: String): DataFrame = {
    val lc = table.toLowerCase
    tableTriggers.get(lc).foreach(ts =>
      tableTriggers(lc) = ts.filterNot(_.name == trigName.toLowerCase))
    tableStmtTriggers.get(lc).foreach(ts =>
      tableStmtTriggers(lc) = ts.filterNot(_.name == trigName.toLowerCase))
    Seq("insert", "update", "delete").foreach { ev =>
      viewInsteadTriggers.get(s"$lc/$ev")
        .filter(_._1 == trigName.toLowerCase)
        .foreach(_ => viewInsteadTriggers.remove(s"$lc/$ev"))
    }
    spark.emptyDataFrame
  }

  /** The trigger's executable steps — LOUD if its function was
    * CREATE-OR-REPLACEd with an unsupported body after the trigger was
    * attached (silently running the DML untriggered would misexecute). */
  private def triggerSteps(tg: TriggerDef, table: String): Seq[TrigStep] =
    triggerFnBodies.getOrElse(tg.fn, {
      val why = deferredPlpgsql.get(tg.fn).map(w => s": $w").getOrElse("")
      throw new UnsupportedOperationException(
        s"trigger ${tg.name} on $table: function ${tg.fn}() is no longer " +
          s"executable$why — DROP TRIGGER or restore a supported body")
    })

  /** Fire the table's BEFORE ROW triggers on the new-tuple relation:
    * skips filter, assignments project (each step sees the previous
    * steps' NEW values, plpgsql sequencing) — the whole cascade stays
    * one codegen'd stage over the DML source. A WHEN clause pins to a
    * temp boolean at trigger ENTRY (PG evaluates it once, before the
    * fn — trigger.c TriggerEnabled): false → skips don't filter and
    * assignments keep the incoming value. */
  def applyRowTriggers(
      table: String, df: DataFrame, event: String): DataFrame = {
    import org.apache.spark.sql.functions.{
      coalesce, col, expr, lit, not, when => fnWhen}
    val trigs = tableTriggers.getOrElse(table.toLowerCase, Vector.empty)
      .filter(_.events.contains(event))
    if (trigs.isEmpty) return df
    val types = df.schema.map(f => f.name.toLowerCase -> (f.name, f.dataType))
      .toMap
    trigs.foldLeft(df) { (d, tg) =>
      // TG_ARGV[n] binds to the ATTACHED trigger's argument literal —
      // the same fn body can serve many tables with different args
      def bind(e: String): String = substTgArgs(e, tg.args, tg.name)
      val entry = tg.when match {
        case Some(w) =>
          requireNoOld(tg.name, table, w)
          d.withColumn("__trig_when", coalesce(expr(bind(w)), lit(false)))
        case None => d
      }
      val fired = triggerSteps(tg, table).foldLeft(entry) {
        case (dd, TrigSkip(c)) =>
          requireNoOld(tg.name, table, c)
          val skip = coalesce(expr(bind(c)), lit(false))
          dd.filter(not(if (tg.when.isDefined)
            col("__trig_when") && skip else skip))
        case (dd, TrigAssign(cn, e)) =>
          requireNoOld(tg.name, table, e)
          val (actual, dt) = types.getOrElse(cn,
            throw new IllegalArgumentException(
              s"trigger ${tg.name}: column $cn of $table does not exist"))
          val v = expr(bind(e)).cast(dt)
          dd.withColumn(actual, if (tg.when.isDefined)
            fnWhen(col("__trig_when"), v).otherwise(col(actual)) else v)
      }
      if (tg.when.isDefined) fired.drop("__trig_when") else fired
    }
  }

  /** The new-tuple (INSERT) path has no pre-image — an OLD token here
    * means the fn was CREATE-OR-REPLACEd to use OLD after the trigger
    * attached to INSERT; refuse rather than misbind. */
  private def requireNoOld(trig: String, table: String, e: String): Unit =
    if (OldTokenRe.findFirstIn(e).isDefined)
      throw new UnsupportedOperationException(
        s"trigger $trig on $table references OLD.* — OLD is unassigned " +
          "on the INSERT path; re-attach the trigger to UPDATE only")

  /** DML paths with no clean trigger composition point (conflict
    * upsert, MERGE, correlated UPDATE ... FROM) refuse loudly when the
    * table has a matching BEFORE ROW trigger — PG fires triggers on
    * all of them, and silently skipping the firing would misexecute
    * (r8 review fix). */
  private def rejectTriggersOn(
      table: String, events: Set[String], path: String): Unit = {
    val hit = tableTriggers.getOrElse(table.toLowerCase, Vector.empty)
      .filter(t => t.events.intersect(events).nonEmpty)
    if (hit.nonEmpty) throw new UnsupportedOperationException(
      s"table $table has BEFORE ROW trigger(s) " +
        s"${hit.map(_.name).mkString(", ")} which graft cannot fire on " +
        s"$path — DROP TRIGGER first or use plain INSERT/UPDATE")
    // statement-level triggers fire per STATEMENT, but these composed
    // DML paths have no single fire point either (PG fires per merge
    // action) — same loud-reject convention as row triggers
    val sHit = tableStmtTriggers.getOrElse(table.toLowerCase, Vector.empty)
      .filter(t => t.events.intersect(events).nonEmpty)
    if (sHit.nonEmpty) throw new UnsupportedOperationException(
      s"table $table has statement trigger(s) " +
        s"${sHit.map(_.name).mkString(", ")} which graft cannot fire on " +
        s"$path — DROP TRIGGER first or use plain INSERT/UPDATE")
  }

  /** UPDATE-path trigger composition in TEXT space: the SET clause is
    * the initial NEW environment; each trigger step substitutes the
    * current environment into its expression ONE pass (so captured
    * values are not re-substituted), skips AND into the update
    * predicate. Returns (assignments, extraSkipConds). */
  private def composeUpdateTriggers(
      table: String, setMap: Seq[(String, String)])
      : (Seq[(String, String)], Seq[String]) = {
    val trigs = tableTriggers.getOrElse(table.toLowerCase, Vector.empty)
      .filter(_.events.contains("update"))
    if (trigs.isEmpty) return (setMap, Nil)
    var env = scala.collection.immutable.ListMap(
      setMap.map { case (k, v) => k.toLowerCase -> v }: _*)
    // one-pass substitution, OUTSIDE string literals only (a column
    // name inside a literal is data — same rule as the SQL inliner)
    def subst(e: String): String = {
      if (env.isEmpty) return e
      val pat = ("(?i)(?<![\\w.])(" +
        env.keys.map(java.util.regex.Pattern.quote).mkString("|") +
        ")(?![\\w.(])").r
      SqlLex.mapCode(e)(run =>
        pat.replaceAllIn(run, m => java.util.regex.Matcher
          .quoteReplacement("(" + env(m.group(1).toLowerCase) + ")")))
    }
    val skips = scala.collection.mutable.ArrayBuffer.empty[String]
    trigs.foreach { tg =>
      // TG_ARGV[n] binds to this attachment's argument literal first
      def bind(e: String): String = substTgArgs(e, tg.args, tg.name)
      // WHEN pins at trigger entry: substituted against the env BEFORE
      // this trigger's own assignments run (PG evaluates it once)
      val wSub = tg.when.map(w => subst(bind(w)))
      def guard(c: String): String =
        wSub.fold(c)(w => s"coalesce(($w), false) AND ($c)")
      triggerSteps(tg, table).foreach {
        case TrigSkip(c) => skips += guard(subst(bind(c)))
        case TrigAssign(cn, e) =>
          val applied = subst(bind(e))
          val v = wSub match {
            case Some(w) =>
              // unfired rows keep the incoming value: the SET/prior-
              // trigger expression if present, else the pre-image col
              val prev = env.getOrElse(cn, cn)
              s"CASE WHEN coalesce(($w), false) THEN ($applied) " +
                s"ELSE ($prev) END"
            case None => applied
          }
          env = env + (cn -> v)
      }
    }
    // OLD.col tokens resolve LAST, to the bare pre-image column: the
    // composed UPDATE evaluates assignments against the scanned (old)
    // relation, so the bare name IS the pre-image — and because env
    // substitution never matches inside the token, `NEW.v - OLD.v`
    // composes to `(set_expr_of_v) - v` even when v was assigned
    def resolveOld(e: String): String =
      OldTokenRe.replaceAllIn(e,
        m => java.util.regex.Matcher.quoteReplacement(m.group(1)))
    (env.toSeq.map { case (k, v) => k -> resolveOld(v) },
      skips.toSeq.map(resolveOld))
  }

  // ---- cursors (commands/portalcmds.c PerformCursorOpen/PerformPortalFetch;
  // GP parallel retrieve: gpcontrib/gp_parallel_retrieve_cursor) --------

  /** DECLARE snapshots the query ONCE into an indexed parquet spool —
    * exactly PG's WITH HOLD tuplestore (`portalcmds.c` PersistHoldablePortal):
    * every FETCH is then a pruned range read, consistent across fetches
    * regardless of concurrent DML. The row index is assigned with the
    * same two-pass zip as [[SequenceOps.assignIds]] (no single-partition
    * window), so spooling a 100 TB result is a distributed write and a
    * FETCH reads only the rows it returns. For streaming retrieval
    * without a spool (the parallel-retrieve use case) Spark's answer is
    * `Dataset.toLocalIterator` — same one-partition-at-a-time contract
    * as a segment endpoint. */
  private val DeclareCursorRe =
    ("(?is)^\\s*DECLARE\\s+(\\w+)\\s+(PARALLEL\\s+RETRIEVE\\s+)?" +
      "(?:NO\\s+SCROLL\\s+)?CURSOR\\s+(?:WITH\\s+HOLD\\s+)?FOR\\s+(.+)$").r
  private val FetchRe =
    ("(?is)^\\s*FETCH\\s+(?:(NEXT|PRIOR|FIRST|LAST|FORWARD|BACKWARD|" +
      "ABSOLUTE|RELATIVE)\\s+)?(ALL|[+-]?\\d+)?\\s*" +
      "(?:FROM|IN)\\s+(\\w+)\\s*$").r
  private val CloseCursorRe = "(?is)^\\s*CLOSE\\s+(\\w+)\\s*$".r
  // gp_parallel_retrieve_cursor: RETRIEVE [ALL|n] FROM ENDPOINT name —
  // each endpoint is one spool partition file, retrieved independently
  // (the reference serves one endpoint per segment on retrieve-mode
  // connections; here each parquet part IS the per-segment slice)
  private val RetrieveRe =
    ("(?is)^\\s*RETRIEVE\\s+(ALL|\\d+)\\s+FROM\\s+ENDPOINT\\s+" +
      "'?([\\w.-]+)'?\\s*$").r

  private final case class CursorState(
      path: String, var pos: Long, parallel: Boolean = false)
  private val cursors =
    scala.collection.concurrent.TrieMap.empty[String, CursorState]

  def executeDeclareCursor(
      spark: SparkSession, name: String, select: String,
      basePath: String, parallel: Boolean = false): DataFrame = {
    val df = execute(spark, select, basePath)
    val schema = df.schema.add(StructField("__pos", LongType, false))
    val indexed = spark.createDataFrame(
      df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      schema)
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_cursor_${name.toLowerCase}"
    indexed.write.mode("overwrite").parquet(path)
    cursors.put(name.toLowerCase, CursorState(path, 0L, parallel))
    spark.emptyDataFrame
  }

  /** Endpoint inventory of a parallel-retrieve cursor: one row per
    * spool partition file (reference gp_get_endpoints(): one endpoint
    * per segment, utility_mode retrieve connections). */
  private def endpointFiles(
      spark: SparkSession, c: CursorState): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(c.path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  }

  /** Rebuild the `gp_endpoints` view (gp_get_endpoints()): cursorname,
    * endpointname, state — READY until the cursor closes. */
  def refreshEndpointsView(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = cursors.toSeq.filter(_._2.parallel).flatMap { case (cn, c) =>
      endpointFiles(spark, c).zipWithIndex.map { case (f, i) =>
        (cn, s"${cn}_ep$i", f.toString, "READY")
      }
    }.sortBy(r => (r._1, r._2))
    rows.toDF("cursorname", "endpointname", "spoolfile", "state")
      .createOrReplaceTempView("gp_endpoints")
  }

  /** RETRIEVE [ALL|n] FROM ENDPOINT name: read ONLY that endpoint's
    * spool file — the per-segment slice, no cross-partition traffic,
    * which is the entire point of parallel retrieve (a client pool
    * drains endpoints concurrently instead of serializing through the
    * coordinator's FETCH). */
  def executeRetrieve(
      spark: SparkSession, count: String, endpoint: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val EndpointName = "(?i)^(\\w+)_ep(\\d+)$".r
    endpoint match {
      case EndpointName(cn, i) =>
        val c = cursors.getOrElse(cn.toLowerCase,
          throw new IllegalArgumentException(
            s"endpoint $endpoint: cursor $cn does not exist"))
        require(c.parallel,
          s"cursor $cn was not declared PARALLEL RETRIEVE")
        val files = endpointFiles(spark, c)
        val idx = i.toInt
        require(idx < files.length,
          s"endpoint $endpoint: cursor $cn has ${files.length} endpoints")
        val part = spark.read.parquet(files(idx).toString)
          .orderBy("__pos").drop("__pos")
        if (count.equalsIgnoreCase("ALL")) part else part.limit(count.toInt)
      case _ => throw new IllegalArgumentException(
        s"unknown endpoint $endpoint (expected <cursor>_ep<n>)")
    }
  }

  /** FETCH [direction] [n|ALL] FROM name — the full portal direction
    * grammar (portalcmds.c PerformPortalFetch; pl_exec.c
    * exec_stmt_fetch directions): NEXT/PRIOR/FIRST/LAST,
    * ABSOLUTE/RELATIVE ±n, FORWARD/BACKWARD [n|ALL]. Bare FETCH = 1
    * row forward (PG). The spool is an INDEXED parquet, so every
    * direction — including backward and positioned — is just a range
    * predicate on `__pos` with an ASC/DESC read order: no re-execution,
    * no scrollback buffer, O(page) per fetch at any spool size.
    *
    * Position semantics mirror PG's portal exactly: `pos` is the
    * 1-based index of the row the cursor is ON (0 = before first,
    * nRows+1 = off the end), so PRIOR from off-the-end returns the
    * last row, ABSOLUTE −1 is the last row, RELATIVE 0 re-fetches the
    * current row, and an overshooting FORWARD parks off the end.
    *
    * The page is materialized before returning — FETCH delivers rows
    * to the client in PG, and eager delivery keeps a later CLOSE
    * (which drops the spool) from invalidating pages already handed
    * out. FETCH ALL still has to hand every row to the caller (that is
    * its contract), but it drains the spool through `toLocalIterator`
    * — one partition in flight at a time, like PG's per-row portal
    * delivery — instead of a single `collect()` that holds the full
    * result in executor buffers and the driver at once. */
  def executeFetch(
      spark: SparkSession, dirRaw: Option[String], cntRaw: Option[String],
      name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val c = cursors.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"cursor $name does not exist"))
    val snap = spark.read.parquet(c.path)
    // parquet row count is footer metadata — no data scan
    lazy val nRows: Long = snap.count()
    // 1-based inclusive row range [lo, hi], read ASC or DESC
    def page(lo: Long, hi: Long, reverse: Boolean): DataFrame = {
      val ordered = snap
        .filter(col("__pos") >= lo - 1 && col("__pos") <= hi - 1)
        .orderBy(if (reverse) col("__pos").desc else col("__pos").asc)
        .drop("__pos")
      spark.createDataFrame(
        java.util.Arrays.asList(ordered.collect(): _*), ordered.schema)
    }
    // count 0 re-fetches the current row without moving (PG: "FORWARD 0
    // re-fetches the current row"); off-row positions yield no row
    def refetch(): DataFrame =
      if (c.pos >= 1 && c.pos <= nRows) page(c.pos, c.pos, reverse = false)
      else page(1, 0, reverse = false)
    def fwd(n: Long): DataFrame = {
      if (n == 0) return refetch()
      val lo = c.pos + 1
      val hi = math.min(c.pos + n, nRows)
      c.pos = math.min(c.pos + n, nRows + 1)
      page(lo, hi, reverse = false)
    }
    def fwdAll(): DataFrame = {
      val ordered = snap.filter(col("__pos") >= c.pos)
        .orderBy("__pos").drop("__pos")
      c.pos = nRows + 1
      val buf = new java.util.ArrayList[Row]()
      val it = ordered.toLocalIterator()
      while (it.hasNext) buf.add(it.next())
      spark.createDataFrame(buf, ordered.schema)
    }
    def bwd(n: Long): DataFrame = {
      if (n == 0) return refetch()
      val hi = math.min(c.pos - 1, nRows)
      val lo = math.max(c.pos - n, 1)
      c.pos = math.max(c.pos - n, 0)
      page(lo, hi, reverse = true)
    }
    // position on row `target` (1-based) and return it; outside the
    // spool parks before-first / off-the-end with an empty page
    def moveTo(target: Long): DataFrame =
      if (target < 1) { c.pos = 0; page(1, 0, reverse = false) }
      else if (target > nRows) { c.pos = nRows + 1; page(1, 0, reverse = false) }
      else { c.pos = target; page(target, target, reverse = false) }
    val dir = dirRaw.map(_.toUpperCase).getOrElse("FORWARD")
    val cnt = cntRaw.map(_.trim.toUpperCase)
    (dir, cnt) match {
      case ("FORWARD" | "NEXT", None) => fwd(1)
      case ("FORWARD", Some("ALL")) => fwdAll()
      case ("FORWARD", Some(n)) if n.toLong >= 0 => fwd(n.toLong)
      case ("FORWARD", Some(n)) => bwd(-n.toLong) // PG: FORWARD -n ≡ BACKWARD n
      case ("PRIOR" | "BACKWARD", None) => bwd(1)
      case ("BACKWARD", Some("ALL")) => bwd(math.max(c.pos, 1L))
      case ("BACKWARD", Some(n)) if n.toLong >= 0 => bwd(n.toLong)
      case ("BACKWARD", Some(n)) => fwd(-n.toLong)
      case ("FIRST", None) => moveTo(1)
      case ("LAST", None) => moveTo(nRows)
      case ("ABSOLUTE", Some(n)) =>
        moveTo(if (n.toLong >= 0) n.toLong else nRows + n.toLong + 1)
      case ("RELATIVE", Some(n)) => moveTo(c.pos + n.toLong)
      case (d, k) => throw new IllegalArgumentException(
        s"FETCH $d ${k.getOrElse("")} FROM $name: unsupported direction/count")
    }
  }

  def executeCloseCursor(spark: SparkSession, name: String): DataFrame = {
    cursors.remove(name.toLowerCase).foreach { c =>
      val p = new org.apache.hadoop.fs.Path(c.path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    spark.emptyDataFrame
  }

  // ---- ANALYZE (commands/analyze.c; GP merges per-segment samples) ----

  /** `ANALYZE table` → one-pass per-column statistics (row count, null
    * count, NDV estimate, min/max) into the stats catalog, returned as
    * one row per column — pg_statistic's shape. NDV is HLL
    * (approx_count_distinct) exactly like PG's sampled estimate: at
    * 100 TB you never compute exact per-column distincts for stats.
    * The whole table is read ONCE (all stats fold into one partial/final
    * aggregate); min/max surface as strings like pg_stats. */
  private val AnalyzeRe =
    "(?is)^\\s*ANALYZE\\s+(?:VERBOSE\\s+)?(\\w+)\\s*$".r

  /** Last ANALYZE result per table — the pg_statistic analogue. */
  val tableStats =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  def executeAnalyze(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = catalog.get(table.toLowerCase) match {
      case Some(t) if t.format == "parquet" => spark.read.parquet(t.path)
      case Some(t) if t.format != "csv" => // json/orc need declared schema
        spark.read.schema(t.schema).format(t.format).load(t.path)
      case _ => spark.table(table)
    }
    val cols = df.schema.fields.filter(f => f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    })
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { f =>
      val c = col(f.name)
      Seq(
        count(when(c.isNull, 1)).as(s"__nulls_${f.name}"),
        approx_count_distinct(c).as(s"__ndv_${f.name}"),
        min(c).cast("string").as(s"__min_${f.name}"),
        max(c).cast("string").as(s"__max_${f.name}"))
    }.toSeq
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getAs[Long]("__n")
    val stats = cols.map { f =>
      Row(table.toLowerCase, f.name, n,
        row.getAs[Long](s"__nulls_${f.name}"),
        row.getAs[Long](s"__ndv_${f.name}"),
        row.getAs[String](s"__min_${f.name}"),
        row.getAs[String](s"__max_${f.name}"))
    }
    val schema = StructType(Seq(
      StructField("tablename", StringType), StructField("attname", StringType),
      StructField("n_rows", LongType), StructField("n_nulls", LongType),
      StructField("n_distinct", LongType), StructField("min_value", StringType),
      StructField("max_value", StringType)))
    val out = spark.createDataFrame(
      java.util.Arrays.asList(stats: _*), schema)
    tableStats.put(table.toLowerCase, out)
    // feed the planner (costsize.c role): key the stats by every parquet
    // root the analyzed relation reads, so any later scan of those
    // locations — whatever view name it resolves through — plans with
    // rowCount/NDV/min-max instead of file-size heuristics.
    val colStats = cols.map { f =>
      f.name -> graft.plans.AnalyzedStats.ColStats(
        ndv = row.getAs[Long](s"__ndv_${f.name}"),
        nulls = row.getAs[Long](s"__nulls_${f.name}"),
        min = Option(row.getAs[String](s"__min_${f.name}")),
        max = Option(row.getAs[String](s"__max_${f.name}")))
    }.toMap
    val roots = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    roots.foreach(p => graft.plans.AnalyzedStats.put(
      p, graft.plans.AnalyzedStats.TableStats(n, colStats)))
    out
  }

  // ---- full-text search dictionaries / configurations ---------------
  // (commands/tsearchcmds.c DefineTSDictionary/DefineTSConfiguration;
  // tsearch/dict_synonym.c, dict_simple.c; ts_parse.c LexizeExec runs
  // the per-token dictionary CHAIN: first dictionary that recognizes a
  // token wins — synonym maps it, simple lowercases unless stopword,
  // unrecognized tokens fall through to the next dict). PG's synonym/
  // stopword payloads live in $SHAREDIR files; files have no analogue
  // here, so the payload is INLINE in the DDL ('a=b, c=d' /
  // 'the, a, of') — the documented adaptation.

  /** `phrases`: thesaurus samples — (sample words, substitute lexemes),
    * longest-match-first (dict_thesaurus.c). `synonyms` doubles as the
    * ispell surface→root map (affix rules expand at CREATE time). */
  final case class TsDict(template: String,
      synonyms: Map[String, String] = Map.empty,
      stopwords: Set[String] = Set.empty,
      phrases: Seq[(List[String], List[String])] = Nil)
  val tsDictionaries =
    scala.collection.concurrent.TrieMap.empty[String, TsDict]
  /** config → dictionary chain for word tokens (LexizeExec order). */
  val tsConfigs =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
  tsDictionaries.put("simple", TsDict("simple"))
  tsConfigs.put("simple", Seq("simple"))

  private val CreateTsDictRe =
    ("(?is)^\\s*CREATE\\s+TEXT\\s+SEARCH\\s+DICTIONARY\\s+(\\w+)\\s*" +
      "\\(\\s*TEMPLATE\\s*=\\s*(\\w+)\\s*" +
      "((?:,\\s*\\w+\\s*=\\s*'[^']*'\\s*)*)\\)\\s*$").r
  private val TsDictOptRe = "(\\w+)\\s*=\\s*'([^']*)'".r
  private val CreateTsConfigRe =
    ("(?is)^\\s*CREATE\\s+TEXT\\s+SEARCH\\s+CONFIGURATION\\s+(\\w+)\\s*" +
      "\\(\\s*(?:COPY|PARSER)\\s*=\\s*(\\w+)\\s*\\)\\s*$").r
  private val AlterTsConfigRe =
    ("(?is)^\\s*ALTER\\s+TEXT\\s+SEARCH\\s+CONFIGURATION\\s+(\\w+)\\s+" +
      "ALTER\\s+MAPPING\\s+FOR\\s+[\\w,\\s]+\\s+WITH\\s+" +
      "([\\w,\\s]+?)\\s*$").r

  def executeCreateTsDict(spark: SparkSession, name: String,
      template: String, optsRaw: String): DataFrame = {
    val opts = TsDictOptRe.findAllMatchIn(Option(optsRaw).getOrElse(""))
      .map(m => m.group(1).toUpperCase -> m.group(2)).toMap
    def opt(k: String): Option[String] = opts.get(k)
    val dict = template.toLowerCase match {
      case "synonym" =>
        val payload = opt("SYNONYMS").getOrElse(throw
          new IllegalArgumentException(
            s"CREATE TEXT SEARCH DICTIONARY $name: TEMPLATE=synonym " +
              "requires SYNONYMS = 'from=to, ...'"))
        val pairs = payload.split(",").iterator.map(_.trim)
          .filter(_.nonEmpty).map { p =>
            val Array(f, t) = p.split("=", 2).map(_.trim.toLowerCase)
            f -> t
          }.toMap
        TsDict("synonym", synonyms = pairs)
      case "simple" =>
        val stops = opt("STOPWORDS").map(_.split(",")
          .map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty[String])
        TsDict("simple", stopwords = stops)
      // ispell (tsearch/spell.c): DICTWORDS are 'root/FLAGS' entries,
      // AFFIXES are ';'-separated suffix rules in either the short
      // 'SFX <flag> <suffix>' form or the FULL .affix 4-field form
      // 'SFX <flag> <strip> <suffix> <condition>' (spell.c
      // NISortAffixes): strip is the root-final substring removed
      // before the suffix attaches ('0' = none) and condition is the
      // end-anchored character-class pattern that gates the rule
      // ('[^aeiou]y', '[sxz]', '.' — the regex subset PG itself
      // compiles via regcomp). Expansion happens at CREATE — every
      // surface form (root, and strip/condition-respecting
      // root+suffix per matching flag) maps to the root, and lexize
      // is then the synonym lookup. PG's $SHAREDIR .dict/.affix files
      // have no analogue here so the payloads are INLINE (same
      // documented adaptation as synonym/stopwords).
      case "ispell" =>
        val words = opt("DICTWORDS").getOrElse(throw
          new IllegalArgumentException(
            s"CREATE TEXT SEARCH DICTIONARY $name: TEMPLATE=ispell " +
              "requires DICTWORDS = 'root/FLAGS, ...'"))
        val affRaw = opt("AFFIXES").getOrElse("")
        val Aff2 = "(?i)^SFX\\s+(\\w)\\s+([a-z0-9]+)$".r
        val Aff4 = "(?i)^SFX\\s+(\\w)\\s+(\\S+)\\s+(\\S+)\\s+(\\S+)$".r
        // (strip, suffix, end-anchored condition)
        type AffRule = (String, String, Option[scala.util.matching.Regex])
        def compileCond(c: String): Option[scala.util.matching.Regex] =
          if (c == ".") None
          else {
            if (!c.matches("(?:\\[\\^?[a-z]+\\]|[a-z.])+"))
              throw new IllegalArgumentException(
                s"CREATE TEXT SEARCH DICTIONARY $name: affix condition " +
                  s"'$c' is outside the character-class subset " +
                  "([abc], [^abc], literals, .)")
            Some(s"(?i)(?:$c)$$".r)
          }
        val affixes: Map[Char, Seq[AffRule]] = affRaw.split(";").iterator
          .map(_.trim).filter(_.nonEmpty).map {
            case Aff4(f, strip, sfx, cond) =>
              f.toUpperCase.head -> ((
                if (strip == "0") "" else strip.toLowerCase,
                if (sfx == "0") "" else sfx.toLowerCase,
                compileCond(cond.toLowerCase)): AffRule)
            case Aff2(f, s) =>
              f.toUpperCase.head -> (("", s.toLowerCase, None): AffRule)
            case bad => throw new IllegalArgumentException(
              s"CREATE TEXT SEARCH DICTIONARY $name: affix rule '$bad' " +
                "is not 'SFX <flag> <suffix>' or " +
                "'SFX <flag> <strip> <suffix> <condition>'")
          }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val surface = words.split(",").iterator.map(_.trim)
          .filter(_.nonEmpty).flatMap { entry =>
            val (root, flags) = entry.split("/", 2) match {
              case Array(r, f) => (r.trim.toLowerCase, f.trim.toUpperCase)
              case Array(r) => (r.trim.toLowerCase, "")
            }
            (root -> root) +: flags.flatMap(fl =>
              affixes.getOrElse(fl, Seq.empty)
                .flatMap { case (strip, sfx, cond) =>
                  val applies =
                    cond.forall(_.findFirstIn(root).isDefined) &&
                      (strip.isEmpty || root.endsWith(strip))
                  if (applies)
                    Some((root.dropRight(strip.length) + sfx) -> root)
                  else None
                }).toSeq
          }.toMap
        TsDict("ispell", synonyms = surface)
      // thesaurus (tsearch/dict_thesaurus.c): multi-lexeme samples
      // substitute as a unit — PHRASES = 'sample words = substitute,
      // ...'. Matching is longest-sample-first at each stream
      // position; to stay set-based AND greedy-correct, samples whose
      // FIRST word occurs as a NON-first word of any sample are
      // rejected at CREATE (such overlaps would need PG's sequential
      // scanner — loud, documented).
      case "thesaurus" =>
        val payload = opt("PHRASES").getOrElse(throw
          new IllegalArgumentException(
            s"CREATE TEXT SEARCH DICTIONARY $name: TEMPLATE=thesaurus " +
              "requires PHRASES = 'sample words = substitute, ...'"))
        val phrases = payload.split(",").iterator.map(_.trim)
          .filter(_.nonEmpty).map { p =>
            val Array(s, t) = p.split("=", 2)
            val sample = s.trim.toLowerCase.split("\\s+").toList
            val subst = t.trim.toLowerCase.split("\\s+").toList
            require(sample.nonEmpty && subst.nonEmpty && sample.size <= 3,
              s"thesaurus sample '$p': 1..3 sample words supported")
            (sample, subst)
          }.toSeq
        val firsts = phrases.map(_._1.head).toSet
        val nonFirsts = phrases.flatMap(_._1.tail).toSet
        val overlap = firsts.intersect(nonFirsts)
        if (overlap.nonEmpty) throw new UnsupportedOperationException(
          s"CREATE TEXT SEARCH DICTIONARY $name: sample word(s) " +
            s"${overlap.mkString(", ")} start one sample and continue " +
            "another — overlapping samples need PG's sequential " +
            "scanner, which has no greedy-correct set-based lowering")
        TsDict("thesaurus", phrases = phrases)
      case other => throw new IllegalArgumentException(
        s"CREATE TEXT SEARCH DICTIONARY: unsupported TEMPLATE '$other'" +
          " (synonym, simple, ispell and thesaurus are lowered)")
    }
    tsDictionaries.put(name.toLowerCase, dict)
    spark.emptyDataFrame
  }

  /** Resolve a configuration's chain to dictionary payloads. */
  def tsChain(config: String): Seq[TsDict] =
    tsConfigs.getOrElse(config.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown text search configuration '$config'"))
      .map(d => tsDictionaries.getOrElse(d,
        throw new IllegalArgumentException(
          s"text search dictionary '$d' not defined")))

  // ---- enum types (utils/adt/enum.c, commands/typecmds.c) ------------

  private val CreateEnumRe =
    "(?is)^\\s*CREATE\\s+TYPE\\s+(\\w+)\\s+AS\\s+ENUM\\s*\\(([^)]*)\\)\\s*$".r
  private val DropTypeRe =
    "(?is)^\\s*DROP\\s+TYPE\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r

  // ---- composite types (rowtypes.c, typecmds.c DefineCompositeType):
  // CREATE TYPE x AS (a int, b text) → a StructType alias usable as a
  // column type in later DDL (SURVEY §1.4 composite → StructType) -----
  // greedy body capture anchored to the statement's final ')', so
  // parenthesized field types (a numeric(10,2)) stay inside the match;
  // SqlLex.split re-balances the nesting
  private val CreateCompositeRe =
    "(?is)^\\s*CREATE\\s+TYPE\\s+(\\w+)\\s+AS\\s*(?!ENUM)\\((.*)\\)\\s*$".r
  val composites =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]

  // ---- deferred DDL (pg_dump classes needing a loadable C payload:
  // CREATE AGGREGATE sfuncs, OPERATOR support fns, CASTs). Accepted and
  // recorded — check_function_bodies=off contract again — and USING the
  // aggregate raises with the recorded reason. TABLESPACEs are
  // placement hints with no parquet analogue: accepted no-ops. --------
  private val CreateAggregateRe =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?AGGREGATE\\s+" +
      "([\\w.]+)\\s*\\(.*$").r
  private val DeferredDdlNoopRe =
    ("(?is)^\\s*(?:CREATE\\s+OPERATOR(?:\\s+CLASS|\\s+FAMILY)?|" +
      "CREATE\\s+CAST|CREATE\\s+TABLESPACE|DROP\\s+TABLESPACE|" +
      "ALTER\\s+TABLE\\s+\\w+\\s+SET\\s+TABLESPACE|" +
      "DROP\\s+OPERATOR|DROP\\s+CAST|DROP\\s+AGGREGATE)\\b.*$").r
  private val DropAggregateRe =
    "(?is)^\\s*DROP\\s+AGGREGATE\\s+(?:IF\\s+EXISTS\\s+)?([\\w.]+).*$".r
  private val deferredAggregates =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The recorded rejection reason for an unexecutable aggregate. */
  def aggregateRejection(name: String): Option[String] =
    deferredAggregates.get(name.toLowerCase)

  // ---- executable CREATE AGGREGATE over SQL-language support functions
  // (commands/aggregatecmds.c:47-58 DefineAggregate; pg_aggregate.h:35).
  // When sfunc (and the optional combinefunc/finalfunc) are registered
  // SQL-language expression bodies, the aggregate becomes a native
  // Catalyst DeclarativeAggregate (graft.aggregates.SqlFoldAgg):
  // update ≡ sfunc, merge ≡ combinefunc, evaluate ≡ finalfunc — Spark
  // plans it partial/final across the shuffle exactly like GP's 2-stage
  // aggs, whole-stage-codegen'd, only an stype-wide state moving.
  // Without a combinefunc PG cannot parallelize either (it runs the
  // transition serially per group); the analogue here is a textual
  // lowering to `finalfunc(aggregate(collect_list(x), init,
  // (acc, v) -> sfunc(acc, v)))` — the per-group sequential fold over a
  // collected group, which collect_list still gathers map-side.
  // Anything unresolvable keeps the r5 deferral contract (recorded
  // reason, loud raise at use). ---------------------------------------

  private val CreateAggregateFullRe =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?AGGREGATE\\s+" +
      "([\\w.]+)\\s*\\(([^)]*)\\)\\s*\\((.*)\\)\\s*;?\\s*$").r

  /** Registered executable aggregates (name → declared stype text). */
  private val sqlAggregates =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Parse + analyze a SQL-language function body against attributes
    * typed per `types` (one per parameter), returning the placeholder
    * attrs and the fully-resolved, type-coerced expression. The body is
    * pre-expanded through [[inlineSqlFunctions]] so support functions
    * may themselves call other SQL functions. */
  private def analyzeFnBody(
      spark: SparkSession, fnName: String,
      types: Seq[DataType]): Either[String, (Seq[
        org.apache.spark.sql.catalyst.expressions.AttributeReference],
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{
      LocalRelation, Project}
    sqlFunctions.get(fnName.toLowerCase) match {
      case None =>
        Left(s"$fnName is not a registered SQL-language function")
      case Some(fn) if !fn.scalarExpr =>
        Left(s"$fnName has a FROM clause (not a scalar expression body)")
      case Some(fn) if fn.params.length != types.length =>
        Left(s"$fnName takes ${fn.params.length} params, " +
          s"expected ${types.length}")
      case Some(fn) =>
        val attrs = fn.params.zip(types).map { case (p, t) =>
          AttributeReference(p.toLowerCase, t)()
        }
        // $1..$n positional references → parameter names
        val body = "(?<![\\w])\\$(\\d+)".r.replaceAllIn(
          inlineSqlFunctions(fn.body),
          pm => fn.params(pm.group(1).toInt - 1).toLowerCase)
        try {
          val parsed = spark.sessionState.sqlParser.parseExpression(body)
          val plan = Project(Seq(Alias(parsed, "__b")()),
            LocalRelation(attrs))
          val analyzed = spark.sessionState.analyzer.execute(plan)
          val out = analyzed.collectFirst {
            case p: Project => p.projectList.head
          }.get match {
            case a: Alias => a.child
            case o => o
          }
          if (!out.resolved)
            Left(s"$fnName body did not fully resolve: $body")
          else Right((attrs, out))
        } catch {
          case e: Exception =>
            Left(s"$fnName body failed analysis: ${e.getMessage}")
        }
    }
  }

  /** Execute `CREATE AGGREGATE name(argtype) (sfunc=…, stype=…,
    * [initcond=…,] [combinefunc=…,] [finalfunc=…])`. Registers a native
    * DeclarativeAggregate when every support function is SQL-language;
    * records a deferral reason otherwise (the r5 contract). */
  private def executeCreateAggregate(
      spark: SparkSession, name: String, sql: String): DataFrame = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{
      Cast, Expression, ExpressionInfo, Literal}
    def defer(reason: String): DataFrame = {
      deferredAggregates(name) = reason
      spark.emptyDataFrame
    }
    val m = CreateAggregateFullRe.findFirstMatchIn(sql).getOrElse {
      return defer("CREATE AGGREGATE statement shape not recognized")
    }
    val argTypes = SqlLex.split(m.group(2), ',')
    val opts = SqlLex.split(m.group(3), ',').flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k.trim.toLowerCase -> v.trim)
        case _ => None
      }
    }.toMap
    if (argTypes.isEmpty)
      return defer("zero-argument aggregates are not executable")
    val (sfuncName, stypeTxt) = (opts.get("sfunc"), opts.get("stype")) match {
      case (Some(sf), Some(st)) => (sf.toLowerCase, st)
      case _ => return defer("CREATE AGGREGATE needs sfunc and stype")
    }
    // an arg may be bare (`double precision`) or named (`v bigint`):
    // try the full text as a type first, then strip a leading name
    def argType(t: String): DataType =
      try sparkType(t) catch {
        case _: IllegalArgumentException =>
          sparkType(t.replaceAll("(?i)^\\w+\\s+", ""))
      }
    val (stype, inTypes) =
      try (sparkType(stypeTxt), argTypes.map(argType))
      catch { case e: IllegalArgumentException =>
        return defer(e.getMessage) }
    def stripQuotes(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && t.head == '\'' && t.last == '\'')
        t.substring(1, t.length - 1).replace("''", "'")
      else t
    }
    val init: Expression = opts.get("initcond") match {
      case Some(i) => Cast(Literal.create(stripQuotes(i),
        org.apache.spark.sql.types.StringType), stype)
      case None => Literal.create(null, stype)
    }
    analyzeFnBody(spark, sfuncName, stype +: inTypes) match {
      case Left(why) =>
        // the pre-r7 contract: accepted, recorded, raises at use —
        // still the path for C-language sfuncs from real dumps
        defer(s"CREATE AGGREGATE sfunc not executable ($why); " +
          "define the aggregate as an Aggregator in Scala instead")
      case Right((sAttrs, sBody0)) =>
        val sBody = if (sBody0.dataType == stype) sBody0
          else Cast(sBody0, stype)
        val fin = opts.get("finalfunc").map { f =>
          analyzeFnBody(spark, f, Seq(stype)) match {
            case Left(why) => return defer(
              s"CREATE AGGREGATE finalfunc not executable ($why)")
            case Right((fa, fb)) => (fa.head, fb)
          }
        }
        opts.get("combinefunc") match {
          case Some(c) =>
            analyzeFnBody(spark, c, Seq(stype, stype)) match {
              case Left(why) => defer(
                s"CREATE AGGREGATE combinefunc not executable ($why)")
              case Right((cAttrs, cBody0)) =>
                val cBody = if (cBody0.dataType == stype) cBody0
                  else Cast(cBody0, stype)
                spark.sessionState.functionRegistry.registerFunction(
                  FunctionIdentifier(name),
                  new ExpressionInfo(
                    "graft.aggregates.SqlFoldAgg", name),
                  (args: Seq[Expression]) => {
                    require(args.length == inTypes.length,
                      s"$name expects ${inTypes.length} argument(s), " +
                        s"got ${args.length}")
                    graft.aggregates.SqlFoldAgg(args, name, stype,
                      init, sAttrs.head, sAttrs.tail, sBody,
                      cAttrs.head, cAttrs(1), cBody,
                      fin.map(_._1), fin.map(_._2))
                  })
                sqlAggregates(name) = stypeTxt
                deferredAggregates.remove(name)
                spark.emptyDataFrame
            }
          case None =>
            // no combinefunc = PG cannot parallelize either; lower to a
            // sequential per-group fold over the collected group
            // (single-argument only: the fold collects one column)
            if (inTypes.length != 1)
              return defer("multi-argument aggregates need a " +
                "combinefunc to be executable")
            val castTy = toSparkType(stypeTxt)
            val initTxt = opts.get("initcond")
              .map(i => s"'${stripQuotes(i).replace("'", "''")}'")
              .getOrElse("NULL")
            // struct-wrap the value: collect_list silently drops NULL
            // inputs, but PG's non-strict SQL-language sfunc sees them
            // (and the DeclarativeAggregate path above feeds them
            // through) — a null __v inside a struct survives collection
            val inner = s"aggregate(" +
              s"collect_list(named_struct('v', __v)), " +
              s"CAST($initTxt AS $castTy), " +
              s"(__facc, __fx) -> ($sfuncName(__facc, __fx.v)))"
            val bodyTxt = opts.get("finalfunc")
              .map(f => s"${f.toLowerCase}($inner)").getOrElse(inner)
            sqlFunctions(name) =
              SqlFunction(Seq("__v"), bodyTxt, scalarExpr = true)
            sqlAggregates(name) = stypeTxt
            deferredAggregates.remove(name)
            spark.emptyDataFrame
        }
    }
  }

  /** Enum catalog: type name → labels in DECLARATION order (the order
    * enum comparison follows — enum.c enum_cmp_internal sorts by
    * enumsortorder, not by label text). */
  val enums = scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** Declaration-order ordinal of `c` (0-based); null for labels not in
    * the type — a when-chain of literals, codegen'd, no lookup table to
    * broadcast. Sorting/comparing by this column IS enum comparison. */
  def enumOrdinal(typeName: String, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, when}
    val labels = enums.getOrElse(typeName.toLowerCase,
      throw new IllegalArgumentException(s"type $typeName does not exist"))
    labels.zipWithIndex.tail.foldLeft(
      when(c === labels.head, lit(0))) { case (acc, (l, i)) =>
      acc.when(c === l, lit(i))
    }
  }

  /** Runtime domain check (AssertOp over the enum): any non-null value
    * outside the label set raises, like PG's invalid-enum-value error. */
  def enumAssert(typeName: String, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(c.isNotNull && enumOrdinal(typeName, c).isNull,
      raise_error(concat(lit(s"invalid input value for enum $typeName: "),
        c))).otherwise(c)
  }

  def enumFirst(typeName: String): String =
    enums(typeName.toLowerCase).head
  def enumLast(typeName: String): String =
    enums(typeName.toLowerCase).last

  // ---- session GUCs (guc.c / guc_gp.c; every GP script opens with
  // SETs: optimizer, search_path, gp_autostats_mode, work_mem...) ------

  private val SetGucRe =
    ("(?is)^\\s*SET\\s+(LOCAL\\s+|SESSION\\s+)?([\\w.]+)\\s*" +
      "(?:=|\\bTO\\b)\\s*(.+?)\\s*;?\\s*$").r
  private val ShowGucRe = "(?is)^\\s*SHOW\\s+([\\w.]+)\\s*$".r
  private val ResetGucRe = "(?is)^\\s*RESET\\s+([\\w.]+)\\s*$".r

  private val gucs = scala.collection.concurrent.TrieMap.empty[String, String]
  // connect-time GUC probes drivers SHOW before anything else
  // (reference identity: configure.in:23-24)
  gucs.put("server_version", "9.4.26")
  gucs.put("server_version_num", "90426")
  gucs.put("server_encoding", "UTF8")

  /** SET records the GUC (PG semantics: SHOW returns it back; GP
    * planner/resource GUCs are accepted compatibility no-ops — Catalyst
    * replaces the knobs they tune); `spark.*` keys additionally pass
    * through to the live Spark conf so real tuning stays reachable. */
  def executeSetGuc(
      spark: SparkSession, name: String, rawValue: String): DataFrame = {
    val v = rawValue.trim.stripPrefix("'").stripSuffix("'")
    gucs.put(name, v)
    if (name.startsWith("spark.")) spark.conf.set(name, v)
    spark.emptyDataFrame
  }

  def executeShowGuc(spark: SparkSession, name: String): DataFrame = {
    if (name == "all")
      return spark.createDataFrame(
        java.util.Arrays.asList(
          gucs.toSeq.sortBy(_._1).map(kv => Row(kv._1, kv._2)): _*),
        StructType(Seq(StructField("name", StringType),
          StructField("setting", StringType))))
    val v = gucs.get(name)
      .orElse(if (name.startsWith("spark.")) spark.conf.getOption(name)
        else None)
      .getOrElse(throw new IllegalArgumentException(
        s"""unrecognized configuration parameter "$name""""))
    spark.createDataFrame(java.util.List.of(Row(v)),
      StructType(Seq(StructField(name.replace('.', '_'), StringType))))
  }

  // ---- domains (commands/typecmds.c DefineDomain): the base type
  // substitutes in DDL, the domain DEFAULT backs absent column
  // defaults, and CHECK (VALUE ...) is enforced on every INSERT inside
  // the write dataflow (raise_error behind CASE — per-row like PG's
  // domain_check, no extra pass). NULL passes a CHECK, per spec. -----

  final case class GpDomain(
      base: String, default: Option[String], check: Option[String])
  private val domains =
    scala.collection.concurrent.TrieMap.empty[String, GpDomain]

  // a DEFAULT value: a quoted literal ('' escapes), a paren group or a
  // bare token
  private val DefaultValue = "('(?:[^']|'')*'|\\([^)]*\\)|\\S+)"
  private val CreateDomainRe =
    ("(?is)^\\s*CREATE\\s+DOMAIN\\s+(\\w+)\\s+AS\\s+([\\w ()]+?)" +
      s"(?:\\s+DEFAULT\\s+$DefaultValue)?" +
      "(?:\\s+CHECK\\s*\\((.+)\\))?\\s*$").r
  private val DropDomainRe =
    "(?is)^\\s*DROP\\s+DOMAIN\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r

  // ---- schemas (commands/schemacmds.c, catalog/namespace.c: CREATE
  // SCHEMA + search_path name resolution). The session catalog stays
  // flat: relation `s.t` lives under the key `s__t` (`public` keeps
  // bare names, so unqualified DDL is unchanged), and resolution
  // happens once, at the string level, before dispatch — the same
  // place PG's parser calls RangeVarGetRelid. -------------------------

  private val CreateSchemaRe =
    "(?is)^\\s*CREATE\\s+SCHEMA\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\w+)\\s*$".r
  private val DropSchemaRe =
    ("(?is)^\\s*DROP\\s+SCHEMA\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*" +
      "(CASCADE)?\\s*$").r

  private val schemas =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  schemas.add("public")

  def searchPath: Seq[String] =
    gucs.getOrElse("search_path", "public").split(",")
      .map(_.trim.toLowerCase.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq

  /** Flat session-catalog key for (schema, relation). */
  def flatName(schema: String, base: String): String =
    if (schema == "public") base else s"${schema}__$base"

  /** Inverse of [[flatName]] — which schema owns this catalog key. */
  def schemaOf(flat: String): (String, String) =
    flat.split("__", 2) match {
      case Array(s, base) if schemas.contains(s) => (s, base)
      case _ => ("public", flat)
    }

  private def relationExists(flat: String): Boolean =
    catalog.contains(flat) || sessionViews.contains(flat) ||
      matviews.contains(flat)

  // table-reference positions where an unqualified name is
  // unambiguously a relation (never a column or alias)
  private val TableRefCtx =
    ("(?i)\\b(FROM|JOIN|INTO|UPDATE|TABLE|COPY|ANALYZE|VACUUM)" +
      "\\s+(\\w+)").r
  private val CreateRelRe =
    ("(?is)^(\\s*CREATE\\s+(?:TABLE|VIEW|MATERIALIZED\\s+VIEW)\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?)(\\w+)").r

  /** Lower schema-qualified references onto flat catalog keys and
    * resolve unqualified relation references through search_path (the
    * first schema owning the relation wins; CREATEs land in the first
    * search_path schema, like PG). String-level like the rest of the
    * dialect; dotted names inside string literals are not excluded. */
  def resolveSchemas(sql: String): String = {
    var out = sql
    import scala.jdk.CollectionConverters._
    schemas.asScala.toSeq.sortBy(-_.length).foreach { s =>
      val repl = if (s == "public") "$1" else s + "__$1"
      out = out.replaceAll(
        "(?i)\\b" + java.util.regex.Pattern.quote(s) + "\\.(\\w+)", repl)
    }
    val sp = searchPath
    if (sp != Seq("public")) {
      out = CreateRelRe.replaceAllIn(out, m =>
        java.util.regex.Matcher.quoteReplacement(
          m.group(1) + flatName(sp.headOption.getOrElse("public"),
            m.group(2).toLowerCase)))
      out = TableRefCtx.replaceAllIn(out, m => {
        val base = m.group(2).toLowerCase
        val resolved = sp.iterator.map(flatName(_, base))
          .find(relationExists).getOrElse(base)
        java.util.regex.Matcher.quoteReplacement(
          s"${m.group(1)} $resolved")
      })
    }
    out
  }

  def executeCreateSchema(spark: SparkSession, name: String): DataFrame = {
    schemas.add(name)
    spark.emptyDataFrame
  }

  def executeDropSchema(
      spark: SparkSession, name: String, cascade: Boolean): DataFrame = {
    import scala.jdk.CollectionConverters._
    if (name == "public")
      throw new IllegalArgumentException("cannot drop schema public")
    if (!schemas.contains(name))
      throw new IllegalArgumentException(s"""schema "$name" does not exist""")
    val owned = catalog.keys.filter(schemaOf(_)._1 == name).toSeq
    val views = sessionViews.asScala.filter(schemaOf(_)._1 == name).toSeq
    if ((owned.nonEmpty || views.nonEmpty) && !cascade)
      throw new IllegalStateException(
        s"""schema "$name" is not empty (use DROP SCHEMA ... CASCADE)""")
    owned.foreach(executeDropTable(spark, _, ifExists = true))
    views.foreach { v =>
      spark.catalog.dropTempView(v); sessionViews.remove(v)
      viewDefs.remove(v)
      Seq("insert", "update", "delete").foreach(ev =>
        viewInsteadTriggers.remove(s"$v/$ev"))
    }
    schemas.remove(name)
    spark.emptyDataFrame
  }

  // ---- catalog introspection (pg_tables / pg_matviews /
  // gp_distribution_policy / information_schema.columns) ---------------

  private val CatalogViewRe =
    ("(?i)\\b(pg_tables|pg_views|pg_matviews|gp_distribution_policy|" +
      "pg_namespace|pg_resqueue|pg_roles|gp_resqueue_status|" +
      "information_schema\\.columns|information_schema\\.tables)\\b").r

  private val RelSizeRe =
    ("(?is)^\\s*SELECT\\s+pg_(?:total_)?relation_size\\s*\\(\\s*" +
      "'(\\w+)'\\s*\\)\\s*(?:AS\\s+\\w+)?\\s*$").r

  private def rewriteCatalogNames(sql: String): String =
    SqlLex.mapCode(sql)(
      _.replaceAll("(?i)\\binformation_schema\\.columns\\b",
        "information_schema_columns")
        .replaceAll("(?i)\\binformation_schema\\.tables\\b",
          "information_schema_tables")
        .replaceAll("(?i)\\bpg_catalog\\.", "")
        .replaceAll("(?i)\\bgp_toolkit\\.", ""))

  /** gp_toolkit.gp_skew_coefficients (reference gp_toolkit.sql:688-770):
    * per-table distribution-skew diagnostic — the view a GP admin reads
    * before changing a DISTRIBUTED BY clause. Coefficient = sample
    * stddev of per-segment tuple counts / mean × 100 (gp_toolkit.sql:
    * 694-697, gpperfmon's measure). Segments here are 32 virtual
    * buckets of Spark's hash over the distribution key — the same
    * placement bucketing/repartition uses, so the number predicts
    * shuffle balance on any cluster size. Computed on demand (the
    * reference view is equally scan-heavy) over catalog tables that
    * declare a distribution key. */
  private val SkewViewRe = "(?i)\\bgp_skew_coefficients\\b".r
  private val SkewSegments = 32

  def refreshSkewView(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{avg, coalesce, col, count, hash,
      lit, pmod, stddev_samp}
    val rows = catalog.values.toSeq.sortBy(_.name)
      .filter(t => t.distributionCols.nonEmpty && t.format != "csv")
      .map { t =>
        // empty segments count as zero rows (gp_skew_details reports a
        // row per segment) — without them a constant key reads as
        // perfectly balanced instead of maximally skewed
        val segs = spark.range(SkewSegments)
          .select(col("id").cast("int").as("__seg"))
        val occupied = readTable(spark, t)
          .groupBy(pmod(hash(t.distributionCols.map(col): _*),
            lit(SkewSegments)).as("__seg"))
          .agg(count(lit(1)).as("__n"))
        val per = segs.join(occupied, Seq("__seg"), "left")
          .select(coalesce(col("__n"), lit(0L)).as("__n"))
          .agg(stddev_samp(col("__n")), avg(col("__n"))).head
        val coeff =
          if (per.isNullAt(0) || per.isNullAt(1) || per.getDouble(1) <= 0) 0d
          else per.getDouble(0) / per.getDouble(1) * 100d
        val (sch, base) = schemaOf(t.name)
        Row(sch, base, coeff)
      }
    spark.createDataFrame(rows.asJava,
      StructType(Seq(
        StructField("skcnamespace", StringType),
        StructField("skcrelname", StringType),
        StructField("skccoeff", DoubleType))))
      .createOrReplaceTempView("gp_skew_coefficients")
  }

  /** gp_toolkit.gp_bloat_diag (gp_toolkit.sql: bloat diagnostics —
    * there the dead-tuple/page estimate from pg_statistic; the parquet
    * analogue of bloat is FILE FRAGMENTATION: many small files from
    * incremental INSERT/UPDATE copy-on-write raise open/footer costs
    * per scan task. Reports per catalog table the file count, bytes,
    * average file size, and the same three-level advice the reference
    * view renders; the fix is VACUUM (Dml.compact), as there. Pure
    * filesystem metadata — no data scan. */
  def refreshBloatView(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val targetBytes = 64L << 20 // compaction target: ≥64 MB avg files
    val rows = catalog.values.toSeq.sortBy(_.name)
      .filter(_.format != "csv")
      .map { t =>
        val files = Dml.dataFiles(spark, t.path).map(_.getLen)
        val n = files.length.toLong
        val bytes = files.sum
        val avg = if (n == 0) 0L else bytes / n
        val diag =
          if (n <= 1 || avg >= targetBytes) "no bloat detected"
          else if (n >= 64 && avg < targetBytes / 8)
            "significant amount of bloat suspected"
          else "moderate amount of bloat suspected"
        val (sch, base) = schemaOf(t.name)
        Row(sch, base, n, bytes, avg, diag)
      }
    spark.createDataFrame(rows.asJava,
      StructType(Seq(
        StructField("bdinamespace", StringType),
        StructField("bdirelname", StringType),
        StructField("bdifiles", LongType),
        StructField("bdibytes", LongType),
        StructField("bdiavgbytes", LongType),
        StructField("bdidiag", StringType))))
      .createOrReplaceTempView("gp_bloat_diag")
  }

  /** Materialize the introspection views from the session catalog —
    * catalog-scale rows, rebuilt per query like PG's syscache reads. */
  def refreshCatalogViews(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val tables = catalog.values.toSeq.sortBy(_.name)
    spark.createDataFrame(
      tables.map { t =>
        val (s, base) = schemaOf(t.name)
        Row(s, base, "graft", t.format, t.partitionCols.mkString(","))
      }.asJava,
      StructType(Seq(
        StructField("schemaname", StringType),
        StructField("tablename", StringType),
        StructField("tableowner", StringType),
        StructField("storage", StringType),
        StructField("partitionkey", StringType))))
      .createOrReplaceTempView("pg_tables")
    spark.createDataFrame(
      tables.map(t => Row(t.name,
        if (t.distributionCols.nonEmpty) t.distributionCols.mkString(",") else null)).asJava,
      StructType(Seq(
        StructField("localoid", StringType),
        StructField("distkey", StringType))))
      .createOrReplaceTempView("gp_distribution_policy")
    spark.createDataFrame(
      matviews.keys.toSeq.sorted.map(Row("public", _, "graft")).asJava,
      StructType(Seq(
        StructField("schemaname", StringType),
        StructField("matviewname", StringType),
        StructField("matviewowner", StringType))))
      .createOrReplaceTempView("pg_matviews")
    spark.createDataFrame(
      sessionViews.asScala.toSeq.sorted.map { v =>
        val (s, base) = schemaOf(v)
        Row(s, base, "graft")
      }.asJava,
      StructType(Seq(
        StructField("schemaname", StringType),
        StructField("viewname", StringType),
        StructField("viewowner", StringType))))
      .createOrReplaceTempView("pg_views")
    spark.createDataFrame(
      schemas.asScala.toSeq.sorted.map(Row(_, "graft")).asJava,
      StructType(Seq(
        StructField("nspname", StringType),
        StructField("nspowner", StringType))))
      .createOrReplaceTempView("pg_namespace")
    spark.createDataFrame(
      tables.flatMap { t =>
        val (s, base) = schemaOf(t.name)
        t.schema.fields.zipWithIndex.map { case (f, i) =>
          Row(s, base, f.name, i + 1, f.dataType.sql.toLowerCase,
            f.nullable)
        }
      }.asJava,
      StructType(Seq(
        StructField("table_schema", StringType),
        StructField("table_name", StringType),
        StructField("column_name", StringType),
        StructField("ordinal_position", IntegerType),
        StructField("data_type", StringType),
        StructField("is_nullable", BooleanType))))
      .createOrReplaceTempView("information_schema_columns")
    spark.createDataFrame(
      (tables.map { t =>
        val (s, base) = schemaOf(t.name)
        Row(s, base, "BASE TABLE")
      } ++
        (sessionViews.asScala.toSeq ++ matviews.keys).sorted.map { v =>
          val (s, base) = schemaOf(v)
          Row(s, base, "VIEW")
        }).asJava,
      StructType(Seq(
        StructField("table_schema", StringType),
        StructField("table_name", StringType),
        StructField("table_type", StringType))))
      .createOrReplaceTempView("information_schema_tables")
    // pg_resqueue (catalog/pg_resqueue.h column model) + role binding
    // + gp_toolkit.gp_resqueue_status live counters
    spark.createDataFrame(
      ResourceQueues.all.map { q =>
        Row(q.name,
          if (q.activeStatements > 0) q.activeStatements.toDouble else -1d,
          q.maxCost.getOrElse(-1d), q.costOvercommit,
          q.minCost.getOrElse(0d),
          q.priority.orNull, q.memoryLimit.orNull)
      }.asJava,
      StructType(Seq(
        StructField("rsqname", StringType),
        StructField("rsqcountlimit", DoubleType),
        StructField("rsqcostlimit", DoubleType),
        StructField("rsqovercommit", BooleanType),
        StructField("rsqignorecostlimit", DoubleType),
        StructField("rsqpriority", StringType),
        StructField("rsqmemorylimit", StringType))))
      .createOrReplaceTempView("pg_resqueue")
    spark.createDataFrame(
      ResourceQueues.roleRows.map { case (r, q) =>
        Row(r, q.orNull)
      }.asJava,
      StructType(Seq(
        StructField("rolname", StringType),
        StructField("rolresqueue", StringType))))
      .createOrReplaceTempView("pg_roles")
    spark.createDataFrame(
      ResourceQueues.all.map { q =>
        Row(q.name,
          if (q.activeStatements > 0) q.activeStatements.toDouble else -1d,
          ResourceQueues.inFlight(q.name))
      }.asJava,
      StructType(Seq(
        StructField("rsqname", StringType),
        StructField("rsqcountlimit", DoubleType),
        StructField("rsqcountvalue", IntegerType))))
      .createOrReplaceTempView("gp_resqueue_status")
  }

  private val sessionViews =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // ---- SELECT-side PG dialect rewrites -------------------------------

  /** `SELECT DISTINCT ON (exprs) list FROM ... [ORDER BY ...]`
    * (reference grammar: gram.y distinct_clause, planner
    * optimizer/plan/planner.c create_distinct_paths uniqueness on the ON
    * exprs picking the FIRST row per group in ORDER BY order). PG
    * requires the ON exprs to be the leftmost ORDER BY prefix; we
    * additionally require ORDER BY items to be output columns of the
    * select list (true of every regress-style use). Lowered to one
    * row_number window — a single hash shuffle on the ON exprs. */
  private val DistinctOnRe =
    ("(?is)^\\s*SELECT\\s+DISTINCT\\s+ON\\s*\\(([^)]+)\\)\\s+(.+?)" +
      "\\s+FROM\\s+(.+?)(?:\\s+ORDER\\s+BY\\s+(.+?))?\\s*$").r

  /** `ORDER BY ... FETCH FIRST n ROWS WITH TIES` (SQL:2008 / PG 13
    * limit_clause WITH TIES, gram.y). Spark's LIMIT cuts mid-tie, so
    * the rewrite ranks on the sort key instead; Catalyst's
    * InferWindowGroupLimit turns rank()<=n into a bounded top-n per
    * partition (WindowGroupLimit), not a global sort-everything. */
  private val FetchTiesRe =
    ("(?is)^(.+?)\\s+ORDER\\s+BY\\s+(.+?)\\s+FETCH\\s+FIRST\\s+(\\d+)" +
      "\\s+ROWS?\\s+(?:ONLY\\s+)?WITH\\s+TIES\\s*$").r

  private val CreateViewRe =
    "(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?VIEW\\s+(\\w+)\\s+AS\\s+(.+)$".r
  private val DropViewRe =
    "(?is)^\\s*DROP\\s+VIEW\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r

  /** `CREATE MATERIALIZED VIEW name AS select` / `REFRESH MATERIALIZED
    * VIEW name` (commands/matview.c ExecRefreshMatView): the defining
    * query is recorded, its result materialized to parquet, and the name
    * reads the MATERIALIZATION — stale after base-table changes until a
    * REFRESH re-runs the definition, exactly PG's non-incremental
    * semantics. */
  private val CreateMatViewRe =
    "(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+(\\w+)\\s+AS\\s+(.+)$".r
  private val RefreshMatViewRe =
    "(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+(\\w+)\\s*$".r

  private final case class MatView(
      sql: String, path: String, baseFiles: Set[String] = Set.empty)
  private val matviews =
    scala.collection.concurrent.TrieMap.empty[String, MatView]

  def executeCreateMatView(
      spark: SparkSession, name: String, body: String,
      basePath: String): DataFrame = {
    val mv = MatView(body, s"$basePath/matview_$name")
    matviews.put(name, mv)
    refreshMatView(spark, name, basePath)
  }

  /** Incremental-refresh shape: a distributive aggregate (count / sum /
    * min / max) over ONE catalog base table, plain grouping columns.
    * Under append-only changes the delta aggregate over just the NEW
    * parquet files merges into the stored matview (count⊕=sum, sum⊕=sum,
    * min⊕=min, max⊕=max) — at 100 TB a refresh then costs O(delta), not
    * O(base). PG's matview.c is recompute-only; the incremental form
    * follows the standard IVM decomposition for distributive aggs. */
  private final case class IncAgg(
      table: String, where: Option[String], groupCols: Seq[String],
      aggs: Seq[(String, String, String)]) // (fn, argExpr, alias)

  private val IncMatViewRe =
    ("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM\\s+(\\w+)" +
      "(?:\\s+WHERE\\s+(.+?))?\\s+GROUP\\s+BY\\s+([\\w\\s,]+?)\\s*$").r
  private val IncAggItemRe =
    "(?is)^\\s*(count|sum|min|max)\\s*\\(\\s*(\\*|[\\w.]+)\\s*\\)\\s+AS\\s+(\\w+)\\s*$".r

  private def parseIncremental(sql: String): Option[IncAgg] =
    IncMatViewRe.findFirstMatchIn(sql).flatMap { m =>
      val groupCols = m.group(4).split(",").map(_.trim.toLowerCase).toSeq
      if (!groupCols.forall(_.matches("\\w+"))) return None
      val items = SqlLex.split(m.group(1), ',')
      val aggs = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
      val ok = items.forall {
        case item if groupCols.contains(item.trim.toLowerCase) => true
        case IncAggItemRe(fn, arg, alias) =>
          aggs += ((fn.toLowerCase, arg, alias.toLowerCase)); true
        case _ => false
      }
      if (ok && aggs.nonEmpty)
        Some(IncAgg(m.group(2).toLowerCase, Option(m.group(3)), groupCols,
          aggs.toSeq))
      else None
    }

  /** Whether the last REFRESH took the incremental (delta-merge) path —
    * observable for tests and operational sanity checks. */
  @volatile var lastRefreshIncremental: Boolean = false

  private def aggColumns(aggs: Seq[(String, String, String)]) = {
    import org.apache.spark.sql.functions._
    aggs.map {
      case ("count", "*", a) => count(lit(1)).as(a)
      case ("count", arg, a) => count(col(arg)).as(a)
      case ("sum", arg, a) => sum(col(arg)).as(a)
      case ("min", arg, a) => min(col(arg)).as(a)
      case ("max", arg, a) => max(col(arg)).as(a)
    }
  }

  def refreshMatView(
      spark: SparkSession, name: String, basePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val mv = matviews.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a materialized view"))
    lastRefreshIncremental = false
    val inc = parseIncremental(mv.sql)
    val baseTable = inc.flatMap(ia => catalog.get(ia.table))
      .filter(_.format == "parquet")
    val nowFiles =
      baseTable.fold(Set.empty[String])(readTable(spark, _).inputFiles.toSet)
    val newFiles = nowFiles -- mv.baseFiles
    val appendOnly = mv.baseFiles.nonEmpty &&
      mv.baseFiles.subsetOf(nowFiles) && newFiles.nonEmpty
    val (next, incremental) = (inc, baseTable) match {
      case (Some(ia), Some(t)) if appendOnly =>
        // delta aggregate over just the new files, merged into the
        // stored matview with each agg's combine function
        val delta0 = spark.read.option("basePath", t.path)
          .schema(t.schema).parquet(newFiles.toSeq: _*)
        val delta = ia.where.map(delta0.filter).getOrElse(delta0)
          .groupBy(ia.groupCols.map(col): _*)
          .agg(aggColumns(ia.aggs).head, aggColumns(ia.aggs).tail: _*)
        val stored = spark.read.parquet(mv.path)
        val combine = ia.aggs.map {
          case ("min", _, a) => min(col(a)).as(a)
          case ("max", _, a) => max(col(a)).as(a)
          case (_, _, a) => sum(col(a)).as(a) // count/sum combine = sum
        }
        val merged = stored.unionByName(delta)
          .groupBy(ia.groupCols.map(col): _*)
          .agg(combine.head, combine.tail: _*)
        // cast merged combine outputs back onto the stored schema (sum
        // of longs widens count columns consistently; decimals align)
        (merged.select(stored.schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*), true)
      case _ => (execute(spark, mv.sql, basePath), false)
    }
    // the swap lets the incremental branch read the rows it replaces
    Dml.overwrite(spark, Dml.Storage(mv.path, Nil, "snappy"), next)
    lastRefreshIncremental = incremental
    matviews.put(name, mv.copy(baseFiles = nowFiles))
    val df = spark.read.parquet(mv.path)
    df.createOrReplaceTempView(name)
    df
  }

  /** `EXPLAIN [ANALYZE|VERBOSE] stmt` (commands/explain.c ExplainQuery):
    * one `plan` row per line of the physical plan; plain EXPLAIN only
    * plans. ANALYZE forces the statement's result under a
    * [[graft.obs.Probe]] and prints the plan that ran (AQE-final) with
    * each node's actual `rows=` (cdbexplain.c), then its job count. */
  private val ExplainRe =
    "(?is)^\\s*EXPLAIN\\s+(ANALYZE\\s+|VERBOSE\\s+)?(.+)$".r

  def executeExplain(
      spark: SparkSession, mode: Option[String], stmt: String,
      basePath: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def withRows(p: SparkPlan, pad: String): Seq[String] =
      (pad + p.simpleString(spark.sessionState.conf.maxToStringFields) +
        p.metrics.get("numOutputRows").fold("")(m => s" rows=${m.value}")) +:
        (p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }).flatMap(withRows(_, pad + "  "))
    (if (!mode.exists(_.trim.equalsIgnoreCase("ANALYZE")))
      execute(spark, stmt, basePath).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).linesIterator.toSeq
    else {
      val (_, ran) = graft.obs.Probe(spark)(execute(spark, stmt, basePath)
        .write.format("noop").mode("overwrite").save())
      withRows(ran.executions.last.executedPlan, "") :+
        s"Spark jobs: ${ran.jobs}"
    }).toDF("plan")
  }

  /** One textual ORDER BY item → a Spark sort Column. */
  private def orderCol(item: String): org.apache.spark.sql.Column = {
    val m = "(?is)^(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*$".r
      .findFirstMatchIn(item.trim).get
    val base = org.apache.spark.sql.functions.expr(m.group(1))
    val desc = Option(m.group(2)).exists(_.equalsIgnoreCase("DESC"))
    Option(m.group(3)).map(_.toUpperCase) match {
      case Some("FIRST") => if (desc) base.desc_nulls_first else base.asc_nulls_first
      case Some("LAST") => if (desc) base.desc_nulls_last else base.asc_nulls_last
      case _ => if (desc) base.desc else base.asc
    }
  }

  private def orderCols(orderSql: String): Seq[org.apache.spark.sql.Column] =
    orderSql.split(",").map(orderCol).toSeq

  def executeDistinctOn(
      spark: SparkSession, on: String, select: String, from: String,
      orderBy: Option[String]): DataFrame = {
    val order = orderBy.getOrElse(on)
    val picked = spark.sql(
      s"""SELECT $select, row_number()
         |  OVER (PARTITION BY $on ORDER BY $order) AS __rn
         |FROM $from""".stripMargin)
      .filter(org.apache.spark.sql.functions.col("__rn") === 1)
      .drop("__rn")
    orderBy.map(o => picked.orderBy(orderCols(o): _*)).getOrElse(picked)
  }

  def executeFetchTies(
      spark: SparkSession, core: String, orderSql: String,
      n: Int): DataFrame =
    spark.sql(
      s"SELECT __q.*, rank() OVER (ORDER BY $orderSql) AS __rk FROM ($core) __q")
      .filter(org.apache.spark.sql.functions.col("__rk") <= n)
      .drop("__rk")
      .orderBy(orderCols(orderSql): _*)

  /** CREATE VIEW → temporary view (no persistent catalog here); the view
    * body goes through the full dialect strip so GP clauses inside it
    * work. Reference: commands/view.c DefineView. */
  /** view name → definition SQL: lets DML paths that write BEHIND a
    * view (INSTEAD OF triggers) re-resolve it — the registered temp
    * view captured the parquet file listing at CREATE VIEW time, so
    * later appends are invisible until re-resolution. */
  private val viewDefs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Re-resolve registered views whose definition references `table`:
    * a temp view captures the parquet FILE LISTING at CREATE VIEW, so
    * every statement that writes a catalog table must re-execute
    * dependents ([[refreshViews]]) or reads through them stay stale
    * (lazy plan re-analysis only — no data moves here). */
  private def reresolveDependentViews(
      spark: SparkSession, table: String): Unit =
    viewsReading(table).foreach { case (vn, bodySql) =>
      executeImpl(spark, bodySql, "/tmp/never").createOrReplaceTempView(vn)
    }

  /** (name, definition) of every registered view that reads `table`. */
  private def viewsReading(table: String): Seq[(String, String)] = {
    val reads = s"(?i)(?<![\\w.])$table(?![\\w.])".r
    viewDefs.toSeq.filter { case (_, body) => reads.findFirstIn(body).isDefined }
  }

  /** Refuses to give `t` the schema of `next` while a view that reads
    * `t` would not resolve against it — before any file moves, as PG's
    * dependency check refuses DROP COLUMN under a view. Each dependent
    * view resolves against an empty relation of the new schema; `t`'s
    * own view is restored afterwards. */
  private def requireViewsResolve(
      spark: SparkSession, t: GpTable, next: GpTable): Unit = {
    val views = viewsReading(t.name)
    if (views.nonEmpty) try {
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        next.schema).createOrReplaceTempView(t.name)
      views.foreach { case (vn, bodySql) =>
        try executeImpl(spark, bodySql, "/tmp/never")
        catch { case scala.util.control.NonFatal(e) =>
          val was = t.schema.fieldNames.map(_.toLowerCase).toSeq
          val now = next.schema.fieldNames.map(_.toLowerCase).toSeq
          val gone = was.diff(now).mkString(", ")
          val verb = if (now.diff(was).isEmpty) "drop" else "rename"
          throw new IllegalStateException((
            if (gone.isEmpty) "cannot alter type of a column used by a view"
            else s"cannot $verb column $gone of table ${t.name} because" +
              " other objects depend on it") + s" (view $vn)", e)
        }
      }
    } finally refreshView(spark, t)
  }

  def executeCreateView(
      spark: SparkSession, name: String, body: String,
      basePath: String): DataFrame = {
    val df = execute(spark, body, basePath)
    df.createOrReplaceTempView(name)
    sessionViews.add(name)
    viewDefs(name) = body
    df
  }

  // ---- partition maintenance (cdbpartition.c) -----------------------

  /** `ALTER TABLE t DROP|TRUNCATE|EXCHANGE PARTITION FOR ('value')
    * [WITH TABLE s]` (reference: cdbpartition.c ATPExec* paths,
    * ALTER grammar gram.y). Partitions are Hive directories here, so
    * maintenance is directory surgery — the catalog-scale metadata ops
    * GP runs daily on rolling warehouses:
    *  - DROP: remove the partition directory;
    *  - TRUNCATE: same data effect (the spec lives in the writer, not a
    *    catalog, so there is no definition to keep);
    *  - EXCHANGE: swap the partition's contents with staging table s
    *    (the load-then-swap idiom; s ends up holding the old rows). */
  private val AlterPartitionRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(\\w+)\\s+(DROP|TRUNCATE|EXCHANGE)\\s+" +
      "PARTITION\\s+FOR\\s*\\(\\s*'?([^')]*?)'?\\s*\\)" +
      "(?:\\s+WITH\\s+TABLE\\s+(\\w+))?\\s*$").r

  private val TruncateRe = "(?is)^\\s*TRUNCATE\\s+(?:TABLE\\s+)?(\\w+)\\s*$".r

  /** `DROP TABLE [IF EXISTS] t [CASCADE]` (tablecmds.c RemoveRelations):
    * catalog entry, temp view, backing files and error log all go. */
  private val DropTableRe =
    ("(?is)^\\s*DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)" +
      "\\s*(?:CASCADE|RESTRICT)?\\s*$").r

  def executeDropTable(
      spark: SparkSession, table: String, ifExists: Boolean): DataFrame = {
    // triggers die with their table (PG: DROP TABLE cascades to
    // triggers) — a re-created table must not inherit stale ones
    tableTriggers.remove(table.toLowerCase)
    tableStmtTriggers.remove(table.toLowerCase)
    catalog.remove(table) match {
      case Some(t) =>
        spark.catalog.dropTempView(table)
        val p = new org.apache.hadoop.fs.Path(t.path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        fs.delete(new org.apache.hadoop.fs.Path(t.path + ".errlog"), true)
      case None =>
        if (spark.catalog.tableExists(table))
          spark.catalog.dropTempView(table) // CTAS-era plain view
        else if (!ifExists) throw new IllegalArgumentException(
          s"""table "$table" does not exist""")
    }
    spark.emptyDataFrame
  }

  /** `VACUUM [FULL] table` (commands/vacuum.c) → file compaction of the
    * catalog table ([[Dml.compact]]). */
  private val VacuumRe =
    "(?is)^\\s*VACUUM\\s+(?:FULL\\s+)?(\\w+)\\s*$".r

  /** `ALTER TABLE t RENAME TO u` (tablecmds.c RenameRelation) — a
    * catalog + view rename; the backing files move so a later CREATE
    * TABLE t starts clean. */
  /** `ALTER TABLE t SET DISTRIBUTED BY (cols) | SET DISTRIBUTED
    * RANDOMLY | SET WITH (REORGANIZE=true)` (GP ATExecSetDistributedBy;
    * the REORGANIZE idiom rebalances after skewed loads): update the
    * distribution policy and physically redistribute — a rewrite
    * clustered on the new key, so co-located joins and bounded file
    * counts hold afterward. */
  private val SetDistRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(\\w+)\\s+SET\\s+(?:" +
      "DISTRIBUTED\\s+BY\\s*\\(([^)]*)\\)|" +
      "DISTRIBUTED\\s+(RANDOMLY)|" +
      "WITH\\s*\\(\\s*REORGANIZE\\s*=\\s*'?true'?\\s*\\))\\s*$").r

  def executeSetDistributed(
      spark: SparkSession, table: String, cols: Option[Seq[String]],
      randomly: Boolean): DataFrame = {
    val t = catalog(table)
    cols.toSeq.flatten.foreach(c =>
      require(t.schema.fieldNames.map(_.toLowerCase).contains(c),
        s"distribution column $c not in $table"))
    val next = t.copy(distributionCols =
      if (randomly) Seq.empty[String]
      else cols.getOrElse(t.distributionCols)) // REORGANIZE keeps policy
    rewriteTable(spark, t, next, "SET DISTRIBUTED")((to, rows) =>
      Dml.overwrite(spark, to, laidOut(next, rows)))
    spark.table(table)
  }

  /** `ALTER TABLE t SET SCHEMA s` (AlterObjectNamespace) — re-keys the
    * flat catalog entry into the target schema via the rename path. */
  private val SetSchemaRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+(\\w+)\\s+SET\\s+SCHEMA\\s+(\\w+)\\s*$".r

  private val RenameTableRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+(\\w+)\\s+RENAME\\s+TO\\s+(\\w+)\\s*$".r

  def executeRenameTable(
      spark: SparkSession, from: String, to: String): DataFrame = {
    require(!catalog.contains(to), s"table $to already exists")
    val t = catalog(from)
    val newPath = t.path.replaceAll(s"/$from$$", s"/$to")
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val moved = newPath != t.path &&
      fs.rename(new org.apache.hadoop.fs.Path(t.path),
        new org.apache.hadoop.fs.Path(newPath))
    val renamed = t.copy(name = to, path = if (moved) newPath else t.path)
    catalog.remove(from)
    spark.catalog.dropTempView(from)
    catalog.put(to, renamed)
    refreshView(spark, renamed)
  }

  // ---- ALTER TABLE column DDL (commands/tablecmds.c ATExec*) ---------

  /** ADD/DROP/RENAME COLUMN as copy-on-write rewrites. PG 9.x-era GP
    * rewrites the table for most ALTERs too (ADD COLUMN DEFAULT before
    * PG 11 = full rewrite); a metadata-only ADD needs a table format
    * with schema evolution (Delta/Iceberg) — with plain Parquet the
    * honest move is the rewrite, which also keeps every reader simple
    * (no read-time schema merging). Partition-granular at scale like
    * the other Dml rewrites. */
  private val AlterColumnRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(\\w+)\\s+" +
      "(?=(?:ADD|DROP|RENAME|ALTER|VALIDATE)\\s+(?!PARTITION\\b))").r

  // ATExecAddConstraint / ATExecDropConstraint: CHECK constraints are
  // validated against existing rows at ADD (NULL passes, per spec) and
  // enforced on every later INSERT; PRIMARY KEY / UNIQUE / FOREIGN KEY /
  // EXCLUDE lower as recorded no-ops (no index machinery), exactly the
  // CREATE-level treatment — this is the `ALTER TABLE ONLY ... ADD
  // CONSTRAINT` tail every pg_dump emits after the data load.
  private val AddCheckConstraintRe =
    ("(?is)^\\s*ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*" +
      "\\((.+)\\)\\s*(?:NOT\\s+VALID\\s*)?$").r
  private val AddKeyConstraintRe =
    ("(?is)^\\s*ADD\\s+CONSTRAINT\\s+(\\w+)\\s+" +
      "(?:PRIMARY\\s+KEY|UNIQUE|FOREIGN\\s+KEY|EXCLUDE)\\b.*$").r
  private val DropConstraintRe =
    "(?is)^\\s*DROP\\s+CONSTRAINT\\s+(?:IF\\s+EXISTS\\s+)?(\\w+).*$".r
  private val ValidateConstraintRe =
    "(?is)^\\s*VALIDATE\\s+CONSTRAINT\\s+(\\w+)\\s*$".r
  /** (table, constraint name) -> CHECK expr, so DROP CONSTRAINT can
    * retire the right check from the insert-time enforcement list. */
  private val namedChecks =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private val AddColRe =
    ("(?is)^\\s*ADD\\s+(?:COLUMN\\s+)?(\\w+)\\s+([\\w ()]+?)" +
      "(?:\\s+DEFAULT\\s+(.+?))?\\s*$").r
  private val DropColRe =
    "(?is)^\\s*DROP\\s+(?:COLUMN\\s+)?(\\w+)\\s*$".r
  private val RenameColRe =
    "(?is)^\\s*RENAME\\s+(?:COLUMN\\s+)?(\\w+)\\s+TO\\s+(\\w+)\\s*$".r
  // ATExecAlterColumnType: TYPE change rewrites through a cast (or the
  // USING expression); SET/DROP DEFAULT are catalog-only (ATExec
  // ColumnDefault touches no heap pages — here: no parquet rewrite).
  private val AlterTypeRe =
    ("(?is)^\\s*ALTER\\s+(?:COLUMN\\s+)?(\\w+)\\s+(?:SET\\s+DATA\\s+)?" +
      "TYPE\\s+([\\w ()]+?)(?:\\s+USING\\s+(.+?))?\\s*$").r
  private val SetDefaultRe =
    "(?is)^\\s*ALTER\\s+(?:COLUMN\\s+)?(\\w+)\\s+SET\\s+DEFAULT\\s+(.+?)\\s*$".r
  private val DropDefaultRe =
    "(?is)^\\s*ALTER\\s+(?:COLUMN\\s+)?(\\w+)\\s+DROP\\s+DEFAULT\\s*$".r

  def executeAlterColumn(
      spark: SparkSession, table: String, action: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val t = catalog(table)
    def requireColumn(name: String) =
      require(t.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name of $table does not exist")
    // the row kernel of an action that rewrites the table; the other
    // actions change the catalog entry only
    val change: Option[DataFrame => DataFrame] = action match {
      case AddCheckConstraintRe(cname, chk) =>
        // validate existing rows like ATExecAddConstraint (NULL passes)
        val bad = readTable(spark, t)
          .filter(!coalesce(expr(chk), lit(true))).count()
        if (bad > 0) throw new IllegalStateException(
          s"""check constraint "$cname" of relation "$table" is """ +
            s"violated by $bad existing row(s)")
        namedChecks.put((table, cname.toLowerCase), chk)
        None
      case AddKeyConstraintRe(_) => None // recorded no-op (no indexes)
      case DropConstraintRe(_) => None   // handled in checksAfter below
      case ValidateConstraintRe(_) => None // NOT VALID never tracked
      case AddColRe(name, sqlType, default) =>
        val d = Option(default).map(expr)
          .getOrElse(lit(null)).cast(toSparkType(sqlType.trim))
        Some(_.withColumn(name.toLowerCase, d))
      case DropColRe(name) =>
        requireColumn(name)
        Some(_.drop(name))
      case RenameColRe(from, to) =>
        Some(_.withColumnRenamed(from, to))
      case AlterTypeRe(name, sqlType, usingExpr) =>
        requireColumn(name)
        Some(df => df.withColumn(name.toLowerCase,
          Option(usingExpr).map(expr).getOrElse(df.col(name))
            .cast(toSparkType(sqlType.trim))))
      case SetDefaultRe(_, _) | DropDefaultRe(_) => None // catalog-only
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE $table: unsupported action '${other.trim}'")
    }
    val defaults = action match {
      case SetDefaultRe(name, d) => t.defaults + (name.toLowerCase -> d)
      case DropDefaultRe(name) => t.defaults - name.toLowerCase
      // ADD COLUMN ... DEFAULT applies to future inserts too
      case AddColRe(name, _, default) if default != null =>
        t.defaults + (name.toLowerCase -> default)
      case DropColRe(name) => t.defaults - name.toLowerCase
      case RenameColRe(from, to) =>
        t.defaults.get(from.toLowerCase)
          .map(d => t.defaults - from.toLowerCase + (to.toLowerCase -> d))
          .getOrElse(t.defaults)
      case _ => t.defaults
    }
    val checksAfter = action match {
      case AddCheckConstraintRe(_, chk) => t.checks :+ chk
      case DropConstraintRe(cname) =>
        namedChecks.remove((table, cname.toLowerCase)) match {
          case Some(chk) =>
            val i = t.checks.indexOf(chk)
            if (i < 0) t.checks else t.checks.patch(i, Nil, 1)
          case None => t.checks // PK/UNIQUE/unnamed: nothing tracked
        }
      case _ => t.checks
    }
    // the declared schema after the change, in declared order: the
    // kernel over the declared-order rows appends an added column last
    val schema =
      change.fold(t.schema)(f => readable(f(readTable(spark, t)).schema))
    val next = t.copy(schema = schema, defaults = defaults,
      checks = checksAfter,
      partitionCols = t.partitionCols.filter(
        schema.fieldNames.map(_.toLowerCase).contains(_)))
    change match {
      case Some(f) => rewriteTable(spark, t, next, "ALTER TABLE")(
        (to, rows) => Dml.overwrite(spark, to, f(rows)))
      case None => catalog.put(table, next)
    }
    spark.emptyDataFrame
  }

  /** GP/PG column type name → Spark cast target. */
  private def toSparkType(t: String): String = t.toLowerCase match {
    case "text" | "varchar" | "char" => "string"
    case s if s.startsWith("varchar") || s.startsWith("char") => "string"
    case "int8" | "bigserial" => "bigint"
    case "int4" | "integer" | "serial" => "int"
    case "int2" => "smallint"
    case "float8" | "double precision" => "double"
    case "float4" | "real" => "float"
    case "bool" => "boolean"
    case "timestamptz" => "timestamp"
    case other => other
  }

  // ---- SQL DML over catalog tables (nodeModifyTable.c; RETURNING per
  // PG: DELETE returns the removed rows, UPDATE the post-assignment
  // rows). The returned set is checkpointed BEFORE the copy-on-write
  // swap so it survives the file rewrite; without RETURNING the result
  // is the PG command tag (affected-row count). -----------------------

  private val DeleteRe =
    ("(?is)^\\s*DELETE\\s+FROM\\s+(\\w+)" +
      "(?:\\s+WHERE\\s+(.+?))??(?:\\s+RETURNING\\s+(.+?))?\\s*$").r
  private val UpdateRe =
    ("(?is)^\\s*UPDATE\\s+(\\w+)\\s+SET\\s+(.+?)" +
      "(?:\\s+WHERE\\s+(.+?))??(?:\\s+RETURNING\\s+(.+?))?\\s*$").r

  def executeDelete(
      spark: SparkSession, table: String, where: Option[String],
      returning: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    import spark.implicits._
    val t = catalog(table)
    val df = readTable(spark, t)
    val cond = where.map(expr).getOrElse(lit(true))
    // RETURNING must capture the doomed rows BEFORE the rewrite swaps
    // the files; the plain form's "deleted" count rides the rewrite's
    // own scan as an observe() metric (r10: the standalone count() here
    // was a second full pass over the table per DELETE, guide §1.2/§5)
    val ret = returning.map(r =>
      df.filter(coalesce(cond, lit(false)))
        .selectExpr(r.split(",").map(_.trim): _*).localCheckpoint(true))
    val nDeleted = mergeTable(spark, t, None,
      Seq(Dml.Matched(Some(cond), Dml.Delete)))
    ret.getOrElse(Seq(nDeleted).toDF("deleted"))
  }

  def executeUpdate(
      spark: SparkSession, table: String, setClause: String,
      where: Option[String], returning: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    import spark.implicits._
    val t = catalog(table)
    // BEFORE UPDATE row triggers compose over the SET clause in text
    // space (the SET is the initial NEW image; trigger skips AND into
    // the update predicate) — the rewritten UPDATE stays one pass
    val (effPairs, trigSkips) =
      composeUpdateTriggers(table, setList(setClause))
    val assignments = effPairs.map { case (k, v) => k -> expr(v) }.toMap
    val baseCond = where.map(expr).getOrElse(lit(true))
    val cond = trigSkips.foldLeft(baseCond) { (c, sk) =>
      c && !coalesce(expr(sk), lit(false))
    }
    val df = readTable(spark, t)
    // RETURNING captures the new row images pre-swap; the plain form's
    // "updated" count rides the rewrite's scan as an observe() metric
    // (r10: the standalone count() was a second full pass per UPDATE)
    val ret = returning.map { r =>
      val updated = df.filter(coalesce(cond, lit(false)))
        .select(df.columns.map(c =>
          assignments.getOrElse(c.toLowerCase,
            org.apache.spark.sql.functions.col(c)).as(c)): _*)
      updated.selectExpr(r.split(",").map(_.trim): _*).localCheckpoint(true)
    }
    val nUpdated = mergeTable(spark, t, None,
      Seq(Dml.Matched(Some(cond), Dml.Update(assignments))))
    ret.getOrElse(Seq(nUpdated).toDF("updated"))
  }

  /** `UPDATE t SET a = expr, ... FROM src WHERE cond` (PG's correlated
    * update; gram.y update from_clause) → one left join in
    * [[Dml.merge]]. Assignment expressions and the join condition may
    * reference `src` columns by their bare names; `src` can be any
    * registered relation or catalog table. */
  private val UpdateFromRe =
    ("(?is)^\\s*UPDATE\\s+(\\w+)\\s+SET\\s+(.+?)\\s+FROM\\s+(\\w+)" +
      "\\s+WHERE\\s+(.+?)\\s*$").r

  def executeUpdateFrom(
      spark: SparkSession, table: String, setClause: String,
      srcName: String, whereCond: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    rejectTriggersOn(table, Set("update"), "UPDATE ... FROM")
    val assignments = setList(setClause).map { case (k, v) =>
      k -> expr(v) }.toMap
    mergeTable(spark, catalog(table),
      Some(Dml.Source(dmlSource(spark, srcName), expr(whereCond))),
      Seq(Dml.Matched(None, Dml.Update(assignments))))
    Seq(table).toDF("updated_table")
  }

  /** `CLUSTER table BY (cols)` (commands/cluster.c; GP REORGANIZE) →
    * Z-order rewrite of the backing parquet so min/max file skipping
    * stays effective on every listed column ([[graft.operators.Layout]]). */
  private val ClusterRe =
    "(?is)^\\s*CLUSTER\\s+(\\w+)\\s+BY\\s*\\(([^)]*)\\)\\s*$".r

  def executeCluster(
      spark: SparkSession, table: String, cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val t = catalog(table)
    // the data-file count after the rewrite, every partition included
    val files = rewriteTable(spark, t, t, "CLUSTER") { (to, rows) =>
      Dml.overwrite(spark, to, graft.operators.Layout.zorder(rows, cols))
      Dml.dataFiles(spark, to.path).size
    }
    Seq((table, cols.mkString(","), files))
      .toDF("table", "cluster_key", "files")
  }

  def executeVacuum(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val t = catalog.getOrElse(table, throw new IllegalArgumentException(
      s"VACUUM target $table is not a graft catalog table"))
    val (before, after) =
      rewriteTable(spark, t, t, "VACUUM")(Dml.compact(spark, _, _))
    Seq((table, before, after)).toDF("table", "files_before", "files_after")
  }

  def executeAlterPartition(
      spark: SparkSession, table: String, op: String, value: String,
      withTable: Option[String]): DataFrame = {
    val t = catalog.getOrElse(table,
      throw new IllegalArgumentException(
        s"ALTER TABLE target $table is not a graft catalog table"))
    require(t.partitionCols.nonEmpty, s"$table is not partitioned")
    val pcol = t.partitionCols.head
    val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(value)
    val dir = new java.io.File(
      t.path.stripPrefix("file:"), s"$pcol=$escaped")
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    op match {
      case "DROP" | "TRUNCATE" =>
        if (dir.exists()) deleteRec(dir)
      case "EXCHANGE" =>
        val s = catalog.getOrElse(withTable.getOrElse(
          throw new IllegalArgumentException(
            "EXCHANGE PARTITION needs WITH TABLE")),
          throw new IllegalArgumentException(
            s"EXCHANGE staging table not in catalog"))
        // old partition rows -> staging table (partition col re-added)
        val dataCols = t.schema.fieldNames.filterNot(_ == pcol)
        val old =
          if (dir.exists())
            spark.read.schema(StructType(
                t.schema.filter(f => dataCols.contains(f.name))))
              .parquet(dir.toString)
              .withColumn(pcol, org.apache.spark.sql.functions.lit(value)
                .cast(t.schema(pcol).dataType))
              .select(s.schema.fieldNames.map(
                org.apache.spark.sql.functions.col).toSeq: _*)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], s.schema)
        // staging rows -> the partition directory (without partition col)
        val incoming = spark.read.schema(s.schema).parquet(s.path)
          .select(dataCols.map(org.apache.spark.sql.functions.col).toSeq: _*)
        val stage = new java.io.File(dir.getParent, s".exchange_$escaped")
        incoming.write.mode("overwrite").option("compression", t.codec)
          .parquet(stage.toString)
        rewriteTable(spark, s, s, "EXCHANGE PARTITION")((to, _) =>
          Dml.overwrite(spark, to, old))
        if (dir.exists()) deleteRec(dir)
        stage.renameTo(dir)
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER PARTITION op $other")
    }
    refreshViews(spark, t)
  }

  /** `TRUNCATE TABLE t` — replace contents with an empty relation,
    * keeping schema and physics (commands/tablecmds.c ExecuteTruncate). */
  def executeTruncate(spark: SparkSession, table: String): DataFrame = {
    val t = catalog(table)
    rewriteTable(spark, t, t, "TRUNCATE")((to, rows) =>
      Dml.overwrite(spark, to, rows.limit(0)))
    spark.table(table)
  }

  // ---- phase 2: WITH RECURSIVE --------------------------------------

  private val WithRecursiveStart = "(?is)^\\s*WITH\\s+RECURSIVE\\b".r
  private val ExternalStart =
    "(?is)^\\s*CREATE\\s+(WRITABLE\\s+)?EXTERNAL\\s+TABLE\\b".r
  private val InsertIntoStart =
    "(?is)^\\s*INSERT\\s+INTO\\s+(\\w+)\\s*(?:\\(([\\w\\s,]+)\\)\\s*)?".r
  private val CreateWithCols =
    "(?is)^\\s*CREATE\\s+TABLE\\s+(\\w+)\\s*\\(".r

  /** Split a CTE body at the top-level UNION [ALL]. */
  private def splitTopLevelUnion(body: String): (String, String, Boolean) = {
    val i = SqlLex.keyword(body, "UNION")
    if (i < 0) throw new IllegalArgumentException(
      "WITH RECURSIVE body has no top-level UNION")
    val rest = body.substring(i + 5).trim
    val isAll = SqlLex.keyword(rest, "ALL") == 0
    (body.substring(0, i).trim,
      (if (isAll) rest.substring(3) else rest).trim, isAll)
  }

  /** `WITH RECURSIVE name [(cols)] AS ( seed UNION [ALL] step ) main`:
    * seed/step/main run through spark.sql; the recursive reference `name`
    * is bound to the DELTA each iteration (semi-naive, ≡ WorkTableScan),
    * then to the fixpoint for the main query. */
  def executeWithRecursive(spark: SparkSession, sql: String): DataFrame = {
    val m = "(?is)^\\s*WITH\\s+RECURSIVE\\s+(\\w+)\\s*(\\(([^)]*)\\))?\\s*AS\\s*"
      .r.findFirstMatchIn(sql)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse WITH RECURSIVE: $sql"))
    val name = m.group(1)
    val cols = Option(m.group(3))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val open = m.end
    require(open < sql.length && sql.charAt(open) == '(',
      "expected ( after AS in WITH RECURSIVE")
    val close = SqlLex.matchParen(sql, open)
    require(close > 0, "unbalanced parens in WITH RECURSIVE body")
    val (seedSql, stepSql, isAll) =
      splitTopLevelUnion(sql.substring(open + 1, close))
    val mainSql = sql.substring(close + 1).trim
    val rename = (df: DataFrame) =>
      if (cols.nonEmpty) df.toDF(cols: _*) else df
    val seed = rename(spark.sql(seedSql))
    val step: DataFrame => DataFrame = { delta =>
      delta.createOrReplaceTempView(name)
      rename(spark.sql(stepSql))
    }
    val result =
      if (isAll) graft.operators.RecursiveCte.unionAll(seed, step)
      else graft.operators.RecursiveCte.unionDistinct(seed, step)
    result.createOrReplaceTempView(name)
    if (mainSql.isEmpty) result else spark.sql(mainSql)
  }

  // ---- contrib/tablefunc: crosstab + connectby ------------------------

  /** `crosstab('source_sql'[, 'category_sql']) AS alias(col type, …)`
    * in FROM (contrib/tablefunc/tablefunc.c:50 get_crosstab_tuplestore /
    * crosstab_hash). */
  private val CrosstabRe =
    ("(?is)\\bcrosstab\\s*\\(\\s*'((?:[^']|'')*)'\\s*" +
      "(?:,\\s*'((?:[^']|'')*)'\\s*)?\\)\\s+(?:AS\\s+)?" +
      "(\\w+)\\s*\\(([^)]*)\\)").r

  /** `connectby('rel', 'key', 'parent', 'start', depth[, 'delim'])
    * AS alias(cols)` (tablefunc.c:996 connectby_text). */
  private val ConnectbyRe =
    ("(?is)\\bconnectby\\s*\\(\\s*'([\\w.]+)'\\s*,\\s*'(\\w+)'\\s*,\\s*" +
      "'(\\w+)'\\s*,\\s*'((?:[^']|'')*)'\\s*,\\s*(\\d+)\\s*" +
      "(?:,\\s*'((?:[^']|'')*)'\\s*)?\\)\\s+(?:AS\\s+)?" +
      "(\\w+)\\s*\\(([^)]*)\\)").r

  /** `dblink('connstr', 'sql') AS t(cols)` (contrib/dblink/dblink.c). */
  private val DblinkRe =
    ("(?is)\\bdblink\\s*\\(\\s*'((?:[^']|'')*)'\\s*,\\s*" +
      "'((?:[^']|'')*)'\\s*\\)\\s+(?:AS\\s+)?(\\w+)\\s*\\(([^)]*)\\)").r

  /** contrib/dblink: the remote side executes `sql` verbatim —
    * a `jdbc:` connstr binds through the JDBC ForeignScan machinery
    * (the query ships to the remote engine, its dialect applies);
    * PG-style `dbname=…` connstrs are the LOOPBACK pattern and execute
    * against this engine. Result cast/renamed to the declared record
    * shape like dblink's AS clause.
    *
    * Scale: a jdbc dblink is one remote cursor (dblink's own model —
    * use the FDW path for partitioned parallel reads); loopback is
    * whatever plan the inner statement makes. */
  private def executeDblink(
      spark: SparkSession, conn: String, sql: String,
      alias: String, colSpec: String, basePath: String): String = {
    import org.apache.spark.sql.functions.col
    val cols = parseColSpec(colSpec)
    val df0 =
      if (conn.startsWith("jdbc:"))
        spark.read.format("jdbc")
          .option("url", conn).option("query", sql).load()
      else executeImpl(spark, sql, basePath)
    require(df0.columns.length == cols.size,
      s"dblink result has ${df0.columns.length} columns, AS clause " +
        s"declares ${cols.size}")
    val casted = df0.toDF(cols.map(_._1): _*)
      .select(cols.map { case (n, t) => col(n).cast(t).as(n) }: _*)
    val view = s"graft_dblink_$alias"
    casted.createOrReplaceTempView(view)
    view
  }

  /** Parse an `AS t(name type, …)` column list to (name, type) pairs. */
  private def parseColSpec(spec: String): Seq[(String, DataType)] =
    SqlLex.split(spec, ',').map { c =>
      val parts = c.trim.split("\\s+", 2)
      require(parts.length == 2, s"column def needs name + type: $c")
      (parts(0).toLowerCase, sparkType(parts(1)))
    }

  /** tablefunc crosstab (tablefunc.c:50): the source SQL yields
    * (row_name, category, value) rows; output is one row per row_name
    * with value columns. The 2-arg form matches values to the category
    * list from `category_sql` (ordered, like get_crosstab_tuplestore's
    * crosstab_hash); the 1-arg form fills the declared value columns in
    * category order within each row_name — the PG convention that the
    * source query is `ORDER BY 1,2`.
    *
    * Spark-first: the pivot is groupBy(row_name).pivot(values).first —
    * one hash shuffle on row_name with map-side partials; the category
    * list is catalog-scale (it becomes the column list, so it is BY
    * CONSTRUCTION bounded by the output schema width). */
  private def executeCrosstab(
      spark: SparkSession, srcSql: String, catSql: Option[String],
      alias: String, colSpec: String, basePath: String): String = {
    import org.apache.spark.sql.functions.{col, first, row_number}
    val src = executeImpl(spark, srcSql, basePath)
    require(src.columns.length == 3,
      s"crosstab source must return (row_name, category, value), got " +
        s"${src.columns.mkString(", ")}")
    val Array(rn, cat, v) = src.columns
    val cols = parseColSpec(colSpec)
    require(cols.size >= 2, "crosstab output needs row_name + values")
    val valueCols = cols.drop(1)
    val pivoted = catSql match {
      case Some(cs) =>
        val cats = executeImpl(spark, cs, basePath)
          .collect().map(_.get(0)).toSeq
        require(cats.size == valueCols.size,
          s"crosstab categories (${cats.size}) must match declared " +
            s"value columns (${valueCols.size})")
        src.groupBy(col(rn)).pivot(cat, cats).agg(first(col(v)))
      case None =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(rn).orderBy(cat)
        src.withColumn("__pos", row_number().over(w))
          .filter(col("__pos") <= valueCols.size)
          .groupBy(col(rn))
          .pivot("__pos", 1 to valueCols.size)
          .agg(first(col(v)))
    }
    val renamed = pivoted.toDF(cols.map(_._1): _*)
    val casted = renamed.select(cols.map { case (n, t) =>
      col(n).cast(t).as(n)
    }: _*)
    val view = s"graft_crosstab_$alias"
    casted.createOrReplaceTempView(view)
    view
  }

  /** tablefunc connectby (tablefunc.c:996 connectby_text /
    * build_tuplestore_recursively): BFS by level over the parent
    * relation — the root row is (start_with, NULL, 0[, start_with]);
    * each round joins the table's parent column against the previous
    * frontier (≡ the WorkTableScan loop), extending branch paths with
    * the delimiter. max_depth 0 descends until the frontier empties.
    *
    * Scale: a [[graft.operators.RecursiveCte.unionAll]] whose step joins
    * only the frontier rows under max_depth against the table — the
    * recursive-CTE shape; no driver data paths. The loop stops on the
    * first empty frontier. Cycles are cut by the CTE's iteration cap
    * (tablefunc raises on branch repetition; the cap keeps the loop
    * bounded without per-row path scans). */
  private def executeConnectby(
      spark: SparkSession, rel: String, keyFld: String, parentFld: String,
      startWith: String, maxDepth: Int, delim: String,
      alias: String, colSpec: String): String = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val cols = parseColSpec(colSpec)
    require(cols.size == 3 || cols.size == 4,
      "connectby output is (keyid, parent_keyid, level[, branch])")
    val t = spark.table(rewriteCatalogNames(rel))
    // tablefunc.c:1276 emits the start_with row unconditionally (it
    // need not exist in the relation) with a NULL parent at level 0
    val root = spark.range(1)
      .select(lit(startWith).as("keyid"),
        lit(null).cast("string").as("parent_keyid"),
        lit(0).as("level"), lit(startWith).as("branch"))
    val acc = graft.operators.RecursiveCte.unionAll(root, { delta =>
      val frontier =
        if (maxDepth == 0) delta else delta.filter(col("level") < maxDepth)
      // qualify through t(...): the frontier's own column names
      // (keyid/parent_keyid) may coincide with the table's field names
      t.join(frontier, t(parentFld).cast("string") === frontier("keyid"))
        .select(t(keyFld).cast("string").as("keyid"),
          t(parentFld).cast("string").as("parent_keyid"),
          (frontier("level") + 1).as("level"),
          concat(frontier("branch"), lit(delim),
            t(keyFld).cast("string")).as("branch"))
    })
    val picked = acc.select(cols.zipWithIndex.map { case ((n, tp), i) =>
      col(acc.columns(i)).cast(tp).as(n)
    }: _*)
    val view = s"graft_connectby_$alias"
    picked.createOrReplaceTempView(view)
    view
  }

  // ---- phase 2: column-def CREATE TABLE + PARTITION BY ---------------

  /** GP type name → Spark type (reference: pg_type.h naming). */
  def sparkType(gp: String): DataType = {
    val t = gp.trim.toLowerCase.replaceAll("\\s+", " ")
    val Decimal = "(?:numeric|decimal)\\s*\\((\\d+)\\s*,\\s*(\\d+)\\)".r
    t match {
      case d if domains.contains(d) => sparkType(domains(d).base)
      case c if composites.contains(c) =>
        StructType(composites(c).map { case (n, tp) =>
          StructField(n, sparkType(tp))
        })
      case "int" | "integer" | "int4" => IntegerType
      case "bigint" | "int8" => LongType
      case "smallint" | "int2" => ShortType
      case "double precision" | "float8" => DoubleType
      case "real" | "float4" => FloatType
      case "boolean" | "bool" => BooleanType
      case "date" => DateType
      case "timestamp" | "timestamptz" | "timestamp with time zone" |
           "timestamp without time zone" => TimestampType
      case Decimal(p, s) => DecimalType(p.toInt, s.toInt)
      case "numeric" | "decimal" => DecimalType(38, 18)
      case s if s.startsWith("varchar") || s.startsWith("char") ||
        s == "text" => StringType
      case "bytea" => BinaryType
      case other => throw new IllegalArgumentException(
        s"unmapped GP type: $other")
    }
  }

  /** A catalog table. `codec` is the Parquet codec of its files, set
    * once at CREATE from `compresstype` ([[parquetCodec]]); every later
    * write of the table uses it. */
  final case class GpTable(
      name: String, path: String, schema: StructType,
      partitionCols: Seq[String], distributionCols: Seq[String],
      codec: String,
      format: String = "parquet", defaults: Map[String, String] = Map.empty,
      checks: Seq[String] = Seq.empty)

  /** Session-local GP catalog (name → table physics). */
  private val catalog =
    scala.collection.concurrent.TrieMap.empty[String, GpTable]

  def catalogTable(name: String): Option[GpTable] =
    catalog.get(name.toLowerCase)

  private val PartitionBy =
    "(?is)\\bPARTITION\\s+BY\\s+(?:RANGE|LIST)\\s*\\(([^)]*)\\)".r

  /** Remove `PARTITION BY ...(col) [SUBPARTITION BY ...(col2)]...
    * [SUBPARTITION TEMPLATE (...)] ( ...spec... )` (spec list optional),
    * returning (sql-without-clause, partition cols outermost-first).
    * Multi-level subpartitioning (reference: cdbpartition.c, GP's
    * range-in-list nesting) lowers onto nested Hive partition
    * directories — one `partitionBy` column per level, outer level
    * first, so partition pruning composes across levels exactly like
    * GP's PartitionSelector walking the partition hierarchy. */
  private def stripPartitionBy(sql: String): (String, Seq[String]) =
    PartitionBy.findFirstMatchIn(sql) match {
      case None => (sql, Seq.empty)
      case Some(m) =>
        val cols = scala.collection.mutable.ArrayBuffer(
          m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq: _*)
        val SubBy =
          "(?is)^\\s*SUBPARTITION\\s+BY\\s+(?:RANGE|LIST)\\s*\\(([^)]*)\\)".r
        val SubTemplate = "(?is)^\\s*SUBPARTITION\\s+TEMPLATE\\b".r
        var pos = m.end
        var done = false
        while (!done) {
          val rest = sql.substring(pos)
          SubBy.findFirstMatchIn(rest) match {
            case Some(sm) =>
              cols ++= sm.group(1).split(",").map(_.trim).filter(_.nonEmpty)
              pos += sm.end
            case None => SubTemplate.findFirstMatchIn(rest) match {
              case Some(tm) =>
                // skip the template's balanced paren group
                val open = sql.indexWhere(!_.isWhitespace, pos + tm.end)
                pos =
                  if (open >= 0 && sql.charAt(open) == '(')
                    SqlLex.matchParen(sql, open) + 1
                  else pos + tm.end
              case None =>
                // the GP per-partition spec list is the next balanced group
                val after = sql.indexWhere(!_.isWhitespace, pos)
                if (after >= 0 && sql.charAt(after) == '(')
                  pos = SqlLex.matchParen(sql, after) + 1
                done = true
            }
          }
        }
        (sql.substring(0, m.start) + " " + sql.substring(pos), cols.toSeq)
    }

  /** One parsed column definition: type with constraints stripped,
    * DEFAULT (build_column_default), CHECK expr, NOT NULL flag. */
  private final case class ColDef(
      name: String, tpe: String, default: Option[String],
      check: Option[String], notNull: Boolean)

  private val CheckClauseRe = "(?is)\\bCHECK\\s*\\((.+)\\)".r
  private val TableConstraintRe =
    "(?is)^\\s*(CONSTRAINT\\b|CHECK\\b|PRIMARY\\s+KEY|UNIQUE\\b|FOREIGN\\s+KEY)".r

  /** Split top-level-comma column defs into [[ColDef]]s plus the
    * table-level CHECK expressions. PRIMARY KEY / UNIQUE / FOREIGN KEY
    * entries lower as no-ops (no index machinery); CHECK and NOT NULL
    * are enforced on INSERT through the table's check list. */
  private def parseColumnDefs(defs: String): (Seq[ColDef], Seq[String]) = {
    val tableChecks = scala.collection.mutable.ArrayBuffer.empty[String]
    val cols = SqlLex.split(defs, ',').flatMap { cd =>
      if (TableConstraintRe.findFirstIn(cd).isDefined) {
        CheckClauseRe.findFirstMatchIn(cd).foreach(m => tableChecks += m.group(1))
        None
      } else {
        val sp = cd.indexWhere(_.isWhitespace)
        require(sp > 0, s"cannot parse column def: $cd")
        val name = cd.substring(0, sp)
        val noCheck = CheckClauseRe.replaceAllIn(cd, "")
        val defaultRe = s"(?is)\\bDEFAULT\\s+$DefaultValue".r
        val default = defaultRe.findFirstMatchIn(noCheck).map(_.group(1))
        val check = CheckClauseRe.findFirstMatchIn(cd).map(_.group(1))
        // type and constraints, without the default's literal text
        val rest = defaultRe.replaceAllIn(noCheck.substring(sp + 1), "")
        val notNull = "(?is)\\bNOT\\s+NULL\\b".r.findFirstIn(rest).isDefined
        val tpe = rest
          .replaceAll("(?is)\\b(NOT\\s+NULL|NULL|PRIMARY\\s+KEY|UNIQUE)\\b", "")
          .trim
        Some(ColDef(name, tpe, default, check, notNull))
      }
    }
    (cols, tableChecks.toSeq)
  }

  /** `CREATE TABLE t (col defs) [WITH(...)] [DISTRIBUTED ...] [PARTITION
    * BY ...]` → empty parquet table at basePath/t + catalog entry + temp
    * view. */
  private val SelectIntoRe =
    "(?is)^\\s*(SELECT\\s+.+?)\\s+INTO\\s+(?:TABLE\\s+)?(\\w+)\\s+(FROM\\s+.+)$".r

  /** `CREATE TABLE t (LIKE src [INCLUDING ...]) [DISTRIBUTED ...]`
    * (gram.y TableLikeClause; GP regress uses it for staging tables —
    * notably the EXCHANGE PARTITION idiom). Copies the source's column
    * shape; INCLUDING/EXCLUDING options are storage/constraint details
    * with no parquet analogue and are accepted as no-ops. */
  private val CreateLikeRe =
    "(?is)^\\s*CREATE\\s+TABLE\\s+(\\w+)\\s*\\(\\s*LIKE\\s+(\\w+)[^)]*\\)(.*)$".r

  def executeCreateLike(
      spark: SparkSession, name: String, src: String, fullSql: String,
      basePath: String): DataFrame = {
    val schema = catalog.get(src).map(_.schema)
      .getOrElse(spark.table(src).schema)
    val ddl = parse(fullSql)
    createEmpty(spark, GpTable(name, s"$basePath/$name", schema, Seq.empty,
      ddl.distributionCols, parquetCodec(ddl)))
  }

  /** Registers the new catalog table `t` with no rows: its empty files
    * carry the schema, the codec and the partition layout. */
  private def createEmpty(spark: SparkSession, t: GpTable): DataFrame = {
    val w = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], t.schema)
      .write.mode("overwrite").option("compression", t.codec)
    (if (t.partitionCols.nonEmpty) w.partitionBy(t.partitionCols: _*) else w)
      .parquet(t.path)
    catalog(t.name) = t
    refreshView(spark, t)
  }

  def executeCreateTable(
      spark: SparkSession, gpSql: String, basePath: String): DataFrame = {
    val (noPart, partCols) = stripPartitionBy(gpSql)
    val ddl = parse(noPart)
    val m = CreateWithCols.findFirstMatchIn(ddl.cleanSql)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse CREATE TABLE: $gpSql"))
    val name = m.group(1).toLowerCase
    val open = ddl.cleanSql.indexOf('(', m.start)
    val close = SqlLex.matchParen(ddl.cleanSql, open)
    val (colDefs, tableChecks) =
      parseColumnDefs(ddl.cleanSql.substring(open + 1, close))
    val schema = StructType(colDefs.map(c =>
      StructField(c.name, sparkType(c.tpe))))
    // domain columns: the domain DEFAULT backs columns without their
    // own; CHECK (VALUE ...) binds to the column name. Column-level
    // CHECK / NOT NULL and table-level CHECK join the same check list.
    val domainDefaults = colDefs.collect {
      case c if c.default.isEmpty &&
        domains.get(c.tpe.trim.toLowerCase).exists(_.default.isDefined) =>
        c.name.toLowerCase -> domains(c.tpe.trim.toLowerCase).default.get
    }.toMap
    val checks =
      colDefs.flatMap(c =>
        domains.get(c.tpe.trim.toLowerCase).flatMap(_.check)
          .map(_.replaceAll("(?i)\\bVALUE\\b", c.name.toLowerCase))) ++
      colDefs.flatMap(_.check) ++
      colDefs.collect { case c if c.notNull =>
        s"${c.name.toLowerCase} IS NOT NULL" } ++
      tableChecks
    val defaults = domainDefaults ++ colDefs.collect {
      case c if c.default.isDefined => c.name.toLowerCase -> c.default.get
    }.toMap
    partCols.foreach(p => require(schema.fieldNames.contains(p),
      s"PARTITION BY column $p not in column list"))
    createEmpty(spark, GpTable(name, s"$basePath/$name", schema, partCols,
      ddl.distributionCols, parquetCodec(ddl), defaults = defaults,
      checks = checks))
  }

  /** `INSERT INTO t [(cols)] SELECT ...` / `... VALUES ...` for a catalog
    * table: positional alignment onto the table schema, distribution
    * repartition, Hive-style dynamic partition append. */
  /** GRANT/REVOKE (aclchk.c) — single-tenant engine, accepted as
    * compatibility no-ops so GP deployment scripts run unchanged;
    * COMMENT ON (commands/comment.c) records the description like
    * pg_description, readable via [[objComment]]. */
  private val GrantRevokeRe =
    "(?is)^\\s*(?:GRANT|REVOKE)\\s+.+$".r

  // ---- client connect probes (version() fmgr builtins; the reference
  // identifies as PostgreSQL 9.4.26 / Greenplum 6.0.0 — configure.in:
  // 23-24) ------------------------------------------------------------

  /** Rendered like version_stamp.pl's PG_VERSION_STR so drivers that
    * regex the server family keep working. */
  val VersionString: String =
    "PostgreSQL 9.4.26 (Greenplum Database 6.0.0 graft/spark) on spark"
  private val VersionFnRe =
    "(?is)^\\s*SELECT\\s+version\\s*\\(\\s*\\)\\s*(?:AS\\s+\\w+)?\\s*$".r
  private val SessionFnRe =
    ("(?is)^\\s*SELECT\\s+(current_database|current_user|session_user|" +
      "current_role|user)(?:\\s*\\(\\s*\\))?\\s*(?:AS\\s+\\w+)?\\s*$").r

  // ---- pg_dump / psql compatibility (gram.y:6133 CreateExtensionStmt,
  // tablecmds.c ATExecChangeOwner, guc.c set_config_by_name) ----------

  private val CreateExtensionRe =
    ("(?is)^\\s*CREATE\\s+EXTENSION\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([\\w\"]+).*$").r
  private val DropExtensionRe =
    "(?is)^\\s*DROP\\s+EXTENSION\\s+(?:IF\\s+EXISTS\\s+)?([\\w\"]+).*$".r
  private val OwnerToRe =
    ("(?is)^\\s*ALTER\\s+(?:TABLE|SCHEMA|SEQUENCE|VIEW|" +
      "MATERIALIZED\\s+VIEW|FUNCTION|TYPE|DOMAIN|DATABASE|" +
      "FOREIGN\\s+TABLE)\\s+.+?\\s+OWNER\\s+TO\\s+[\\w\"]+\\s*$").r
  private val AlterSeqOwnedRe =
    "(?is)^\\s*ALTER\\s+SEQUENCE\\s+[\\w.]+\\s+OWNED\\s+BY\\s+[\\w.]+\\s*$".r
  private val SetConfigRe =
    ("(?is)^\\s*SELECT\\s+(?:pg_catalog\\.)?set_config\\s*\\(\\s*" +
      "'([^']*)'\\s*,\\s*'([^']*)'\\s*,\\s*(?:true|false)\\s*\\)\\s*$").r
  private val extensions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Whether a CREATE EXTENSION was recorded (introspection/tests). */
  def hasExtension(name: String): Boolean =
    extensions.contains(name.toLowerCase)

  // ---- resource queues / groups + roles (queue.c, resgroupcmds.c,
  // grammar gram.y:1301-1383) — see ResourceQueues for the mapping ----

  private val CreateResQueueRe =
    "(?is)^\\s*CREATE\\s+RESOURCE\\s+QUEUE\\s+(\\w+)\\s*(.*?)\\s*$".r
  private val AlterResQueueRe =
    "(?is)^\\s*ALTER\\s+RESOURCE\\s+QUEUE\\s+(\\w+)\\s*(.*?)\\s*$".r
  private val DropResQueueRe =
    "(?is)^\\s*DROP\\s+RESOURCE\\s+QUEUE\\s+(\\w+)\\s*$".r
  private val CreateResGroupRe =
    "(?is)^\\s*CREATE\\s+RESOURCE\\s+GROUP\\s+(\\w+)\\s*(.*?)\\s*$".r
  private val DropResGroupRe =
    "(?is)^\\s*DROP\\s+RESOURCE\\s+GROUP\\s+(\\w+)\\s*$".r
  private val CreateRoleRe =
    "(?is)^\\s*CREATE\\s+(?:ROLE|USER)\\s+(\\w+)\\s*(.*?)\\s*$".r
  private val AlterRoleRe =
    "(?is)^\\s*ALTER\\s+(?:ROLE|USER)\\s+(\\w+)\\s+(.*?)\\s*$".r
  private val DropRoleRe =
    "(?is)^\\s*DROP\\s+(?:ROLE|USER)\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r
  private val RoleQueueOptRe =
    "(?i)\\bRESOURCE\\s+QUEUE\\s+(\\w+)".r
  private val SetRoleRe =
    "(?is)^\\s*SET\\s+ROLE\\s+['\"]?(\\w+)['\"]?\\s*$".r
  private val SetRoleNoneRe =
    "(?is)^\\s*(?:RESET\\s+ROLE|SET\\s+ROLE\\s+NONE)\\s*$".r

  /** Queue options from either grammar: the legacy clause list
    * (`ACTIVE THRESHOLD n`, `COST THRESHOLD x`, `IGNORE THRESHOLD x`,
    * `[NO]OVERCOMMIT` — gram.y:1332-1356) and the definition list
    * (`WITH (ACTIVE_STATEMENTS=n, PRIORITY='HIGH', MEMORY_LIMIT='2GB',
    * MAX_COST=.., MIN_COST=.., CONCURRENCY=..)` — queue.c:300-340). */
  private def parseQueueOpts(s: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    "(?i)\\bACTIVE\\s+THRESHOLD\\s+([\\d.]+)".r.findFirstMatchIn(s)
      .foreach(m => out("active_statements") = m.group(1))
    "(?i)(?<!IGNORE\\s)\\bCOST\\s+THRESHOLD\\s+([\\d.eE+]+)".r
      .findFirstMatchIn(s).foreach(m => out("max_cost") = m.group(1))
    "(?i)\\bIGNORE\\s+THRESHOLD\\s+([\\d.eE+]+)".r.findFirstMatchIn(s)
      .foreach(m => out("min_cost") = m.group(1))
    if ("(?i)\\bNOOVERCOMMIT\\b".r.findFirstIn(s).isDefined)
      out("cost_overcommit") = "false"
    else if ("(?i)\\bOVERCOMMIT\\b".r.findFirstIn(s).isDefined)
      out("cost_overcommit") = "true"
    "(?is)WITH\\s*\\(([^)]*)\\)".r.findFirstMatchIn(s).foreach { m =>
      m.group(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            out(k.trim.toLowerCase) =
              v.trim.stripPrefix("'").stripSuffix("'")
          case _ =>
        }
      }
    }
    out.toMap
  }

  /** CREATE INDEX (reference grammar src/backend/parser/gram.y:1262
    * IndexStmt) — a Parquet/Catalyst engine has no secondary-index
    * machinery; the physical analogues (min/max row-group skipping,
    * filter pushdown, CLUSTER BY z-order co-location) are always on.
    * pg_dump/DDL scripts all contain CREATE INDEX, so it is accepted as a
    * *recorded* no-op (like GRANT): the definition lands in a catalog
    * readable via [[recordedIndex]] so tooling can inspect what the
    * source schema declared, and DROP INDEX unrecords it. */
  private val CreateIndexRe =
    ("(?is)^\\s*CREATE\\s+(?:UNIQUE\\s+)?INDEX\\s+(?:CONCURRENTLY\\s+)?" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\w+)\\s+ON\\s+([\\w.]+)" +
      "(?:\\s+USING\\s+\\w+)?\\s*\\(([^)]*)\\).*$").r
  private val DropIndexRe =
    ("(?is)^\\s*DROP\\s+INDEX\\s+(?:CONCURRENTLY\\s+)?" +
      "(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*(?:CASCADE|RESTRICT)?\\s*$").r
  private val indexes =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** The recorded (table, column-list) for an accepted CREATE INDEX. */
  def recordedIndex(name: String): Option[(String, String)] =
    indexes.get(name.toLowerCase)

  /** Transaction control (xact.c) — accepted no-ops: each statement is
    * individually atomic here (the copy-on-write swap publishes a table
    * version all-or-nothing), so BEGIN/COMMIT bracketing in GP scripts
    * runs unchanged. ROLLBACK cannot undo — it raises, loudly, rather
    * than silently acknowledging an impossible request. */
  private val TxnNoopRe =
    ("(?is)^\\s*(?:BEGIN(?:\\s+(?:TRANSACTION|WORK))?|" +
      "START\\s+TRANSACTION|COMMIT(?:\\s+(?:TRANSACTION|WORK))?|END|" +
      "SAVEPOINT\\s+\\w+|RELEASE\\s+(?:SAVEPOINT\\s+)?\\w+)\\s*$").r
  private val RollbackRe =
    "(?is)^\\s*ROLLBACK\\b.*$".r
  private val CommentOnRe =
    ("(?is)^\\s*COMMENT\\s+ON\\s+(TABLE|COLUMN|VIEW|SCHEMA|FUNCTION|" +
      "EXTENSION|INDEX|SEQUENCE|TYPE|DOMAIN|DATABASE)\\s+" +
      "([\\w.]+)\\s+IS\\s+'((?:[^']|'')*)'\\s*$").r
  private val comments =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The recorded COMMENT ON text for e.g. ("table", "orders"). */
  def objComment(kind: String, obj: String): Option[String] =
    comments.get(s"${kind.toLowerCase} ${obj.toLowerCase}")
      .map(_.replace("''", "'"))

  /** `INSERT INTO t DEFAULT VALUES` — one row of catalog defaults. */
  private val InsertDefaultsRe =
    "(?is)^\\s*INSERT\\s+INTO\\s+(\\w+)\\s+DEFAULT\\s+VALUES\\s*$".r

  def executeInsertDefaults(
      spark: SparkSession, name: String): DataFrame = {
    val t = catalog(name)
    // an empty column list: every column takes its DEFAULT
    appendFrame(spark, t, applyRowTriggers(name,
      alignFrame(t, spark.range(1).select(), Some(Nil)), "insert"))
  }

  def executeInsertInto(
      spark: SparkSession, name: String, rest: String,
      colList: Option[Seq[String]] = None): DataFrame = {
    // trailing RETURNING list (PG returns the inserted rows post-cast/
    // default); a RETURNING inside a string literal is data
    "(?is)^(.*?)\\s+RETURNING\\s+(.+?)\\s*$".r.findFirstMatchIn(rest) match {
      case Some(m) if SqlLex.isCode(rest, m.end(1)) =>
        val t = catalog(name)
        // BEFORE ROW triggers fire on the aligned new tuples (post
        // defaults/casts, like PG); RETURNING reflects the post-trigger
        // row, nodeModifyTable.c ExecInsert ordering
        val inserted = applyRowTriggers(name,
          insertSource(spark, t, m.group(1), colList), "insert")
          .localCheckpoint(true)
        appendFrame(spark, t, inserted)
        return inserted.selectExpr(
          SqlLex.split(m.group(2), ','): _*)
      case _ =>
    }
    val t = catalog(name)
    appendFrame(spark, t,
      applyRowTriggers(name, insertSource(spark, t, rest, colList), "insert"))
  }

  /** Build the aligned source frame of an INSERT: VALUES or SELECT body,
    * PG column-list semantics (unlisted columns fill their catalog
    * DEFAULT, else NULL). */
  private def insertSource(
      spark: SparkSession, t: GpTable, rest: String,
      colList: Option[Seq[String]]): DataFrame = {
    val body = rest.trim
    val src0 =
      if (body.toUpperCase.startsWith("VALUES"))
        spark.sql(s"SELECT * FROM ($body) AS v")
      else selectWithSequences(spark, body)
    alignFrame(t, src0, colList)
  }

  /** Positional / column-list alignment of a source frame onto a
    * table schema (PG build_column_default semantics for unlisted
    * columns) — shared by INSERT text paths and the INSTEAD OF
    * trigger's per-body-statement inserts. */
  private def alignFrame(
      t: GpTable, src0: DataFrame,
      colList: Option[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val name = t.name
    val src = colList match {
      case Some(cs) =>
        // PG column-list insert: named targets take the select output
        // positionally; unlisted columns fill with NULL (no DEFAULT
        // expressions in the catalog)
        require(src0.columns.length == cs.length,
          s"INSERT INTO $name (${cs.mkString(",")}): " +
            s"${src0.columns.length} values for ${cs.length} columns")
        cs.foreach(c => require(t.schema.fieldNames.contains(c),
          s"column $c of $name does not exist"))
        val renamed = src0.toDF(cs: _*)
        renamed.select(t.schema.map { f =>
          if (cs.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else t.defaults.get(f.name.toLowerCase) match {
            // unlisted column: its DEFAULT expression, else NULL (PG
            // build_column_default)
            case Some(d) =>
              org.apache.spark.sql.functions.expr(d)
                .cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      case None =>
        require(src0.columns.length == t.schema.length,
          s"INSERT INTO $name: ${src0.columns.length} columns, " +
            s"expected ${t.schema.length}")
        src0
    }
    src.toDF(t.schema.fieldNames.toSeq: _*)
      .select(t.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** `MERGE INTO t [AS a] USING s [AS b] ON cond
    *    WHEN MATCHED [AND guard] THEN UPDATE SET ... | DELETE
    *    WHEN NOT MATCHED [AND guard] THEN INSERT [(cols)] VALUES (...)`
    * (PG 15 / GP 7 parse_merge.c, executor nodeModifyTable.c
    * ExecMerge) → [[Dml.merge]] with the clauses in statement order:
    * the first clause whose condition holds takes the row. Source
    * columns are addressable via the source alias; alias references
    * are rewritten onto the prefixed join columns. */
  private val MergeRe =
    ("(?is)^\\s*MERGE\\s+INTO\\s+(\\w+)(?:\\s+(?:AS\\s+)?(\\w+))?" +
      "\\s+USING\\s+(\\w+)(?:\\s+(?:AS\\s+)?(\\w+))?\\s+ON\\s+(.+?)" +
      "(\\s+WHEN\\s+(?:NOT\\s+)?MATCHED\\b.+)$").r

  /** Rewrite relation-qualified references for the two-table DML joins
    * over `t` and `src`: source alias → [[prefixed]] join columns,
    * target alias → bare names, bare source-only columns → prefixed. */
  private def rewriteRelRefs(
      e: String, tName: String, tAlias: Option[String], sName: String,
      sAlias: Option[String], src: DataFrame, t: GpTable): String = {
    def quoted(a: String) = java.util.regex.Pattern.quote(a)
    val srcOnly = src.columns.map(_.toLowerCase).toSet --
      t.schema.fieldNames.map(_.toLowerCase)
    srcOnly.foldLeft(
      e.replaceAll(s"(?i)\\b${quoted(sAlias.getOrElse(sName))}\\.(\\w+)",
        SrcPrefix + "$1")
        .replaceAll(s"(?i)\\b${quoted(tAlias.getOrElse(tName))}\\.(\\w+)",
          "$1")) { (out, c) =>
      out.replaceAll(s"(?i)\\b${quoted(c)}\\b(?!\\w)", SrcPrefix + c)
    }
  }

  /** `DELETE FROM t [AS a] USING s [AS b] WHERE cond` (PG gram.y
    * using_clause; the relational idiom for "delete what matches
    * another relation"): one left-anti join — target rows with ANY
    * matching source row drop, the rest keep. */
  private val DeleteUsingRe =
    ("(?is)^\\s*DELETE\\s+FROM\\s+(\\w+)(?:\\s+(?:AS\\s+)?(\\w+))?" +
      "\\s+USING\\s+(\\w+)(?:\\s+(?:AS\\s+)?(\\w+))?" +
      "\\s+WHERE\\s+(.+?)\\s*$").r

  def executeDeleteUsing(
      spark: SparkSession, tName: String, tAlias: Option[String],
      sName: String, sAlias: Option[String], cond: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val t = catalog(tName)
    val src = dmlSource(spark, sName)
    mergeTable(spark, t, Some(Dml.Source(prefixed(src),
      expr(rewriteRelRefs(cond, tName, tAlias, sName, sAlias, src, t)))),
      Seq(Dml.Matched(None, Dml.Delete)))
    Seq(tName).toDF("deleted_from")
  }

  private val WhenClauseRe =
    ("(?is)\\bWHEN\\s+(NOT\\s+)?MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+" +
      "(UPDATE\\s+SET\\s+.+?|DELETE|INSERT\\b.*?)" +
      "(?=\\s+WHEN\\s+(?:NOT\\s+)?MATCHED|\\s*$)").r

  private val MergeInsertRe =
    "(?is)^INSERT\\s*(?:\\(([^)]*)\\)\\s*)?VALUES\\s*\\((.+)\\)\\s*$".r

  def executeMerge(
      spark: SparkSession, tName: String, tAlias: Option[String],
      sName: String, sAlias: Option[String], onCond: String,
      whenClauses: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    rejectTriggersOn(tName, Set("insert", "update"), "MERGE")
    val t = catalog(tName)
    val src = dmlSource(spark, sName)
    def rewrite(e: String) =
      expr(rewriteRelRefs(e, tName, tAlias, sName, sAlias, src, t))
    val whens = WhenClauseRe.findAllMatchIn(whenClauses).map { m =>
      val guard = Option(m.group(2)).map(rewrite)
      val action = m.group(3).trim
      if (m.group(1) != null) {
        val im = MergeInsertRe.findFirstMatchIn(action)
          .getOrElse(throw new IllegalArgumentException(
            s"MERGE: cannot parse NOT MATCHED action: $action"))
        val cols = Option(im.group(1)).map(_.split(",")
          .map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq)
          .getOrElse(t.schema.fieldNames.map(_.toLowerCase).toSeq)
        val vals = SqlLex.split(im.group(2), ',').map(rewrite)
        require(cols.length == vals.length, "MERGE INSERT arity mismatch")
        Dml.NotMatched(guard, Dml.Insert(
          t.defaults.map { case (c, d) => c -> expr(d) } ++ cols.zip(vals)))
      } else if (action.equalsIgnoreCase("DELETE"))
        Dml.Matched(guard, Dml.Delete)
      else Dml.Matched(guard, Dml.Update(
        setList(action.replaceFirst("(?is)^UPDATE\\s+SET\\s+", ""))
          .map { case (k, v) => k -> rewrite(v) }.toMap))
    }.toSeq
    mergeTable(spark, t, Some(Dml.Source(prefixed(src), rewrite(onCond))),
      whens)
    Seq(tName).toDF("merged_table")
  }

  /** `INSERT INTO t [(cols)] src ON CONFLICT (keys) DO NOTHING |
    * DO UPDATE SET ...` (gram.y on_conflict; executor speculative
    * insertion nodeModifyTable.c). DO NOTHING anti-joins the source on
    * the conflict keys and appends only genuinely-new rows; DO UPDATE
    * is the MERGE of the proposed rows on the keys (one full-outer join
    * in [[Dml.merge]]), with `EXCLUDED.c` addressing the proposed row. */
  private val InsertConflictRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+(\\w+)\\s*(?:\\(([^()]*)\\)\\s*)?" +
      "((?:VALUES|SELECT).+?)\\s+ON\\s+CONFLICT\\s*\\(([^)]*)\\)\\s+DO\\s+" +
      "(NOTHING|UPDATE\\s+SET\\s+.+?)\\s*$").r

  def executeInsertConflict(
      spark: SparkSession, name: String, colList: Option[Seq[String]],
      body: String, keyList: String, action: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, expr,
      lit, struct}
    import spark.implicits._
    rejectTriggersOn(name, Set("insert", "update"), "INSERT ON CONFLICT")
    val t = catalog(name)
    val keys = keyList.split(",").map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSeq
    keys.foreach(k => require(t.schema.fieldNames.map(_.toLowerCase)
      .contains(k), s"conflict column $k not in $name"))
    val src = insertSource(spark, t, body, colList).localCheckpoint(true)
    if (action.trim.equalsIgnoreCase("NOTHING")) {
      val target = readTable(spark, t).select(keys.map(col): _*)
      val fresh = src.join(target, keys, "left_anti")
      appendFrame(spark, t, fresh)
    } else {
      // PG: "ON CONFLICT DO UPDATE command cannot affect row a second
      // time" — two proposed rows with the same key are an error
      val (n, d) = src
        .agg(count(lit(1)), countDistinct(struct(keys.map(col): _*)))
        .as[(Long, Long)].head()
      require(n == d,
        "ON CONFLICT DO UPDATE cannot affect the same row a second time")
      // EXCLUDED.c → the prefixed proposed-row column in the join
      val assignments =
        setList(action.trim.replaceFirst("(?is)^UPDATE\\s+SET\\s+", ""))
          .map { case (k, v) => k ->
            expr(v.replaceAll("(?i)\\bEXCLUDED\\.(\\w+)", SrcPrefix + "$1"))
          }.toMap
      val cols = t.schema.fieldNames.map(_.toLowerCase).toSeq
      mergeTable(spark, t, Some(Dml.Source(prefixed(src),
        keys.map(k => col(k) === col(SrcPrefix + k)).reduce(_ && _))),
        Seq(Dml.Matched(None, Dml.Update(assignments)),
          Dml.NotMatched(None,
            Dml.Insert(cols.map(c => c -> col(SrcPrefix + c)).toMap))))
      spark.table(name)
    }
  }

  /** Append a frame into a catalog table with its declared physics:
    * positional alignment + cast to the table schema, the write layout
    * of [[laidOut]], Hive-style dynamic partition append with the
    * table's codec, then [[refreshViews]]. With [[rewriteTable]] this is
    * the only way a statement changes a catalog table's files. Writable
    * EXTERNAL CSV tables write CSV to their LOCATION (reference:
    * fileam.c:705 external_insert emits the external format, not heap
    * pages). */
  private def appendFrame(
      spark: SparkSession, t: GpTable, src0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, raise_error, when}
    val cast = src0.toDF(t.schema.fieldNames: _*)
      .select(t.schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
          .as(f.name)).toSeq: _*)
    // domain CHECKs ride in the write dataflow: a failing row raises,
    // a NULL check result passes (SQL CHECK semantics)
    val aligned = t.checks.foldLeft(cast)((d, chk) =>
      d.filter(when(coalesce(expr(chk), lit(true)), lit(true))
        .otherwise(raise_error(
          lit(s"""new row violates domain check ($chk) of "${t.name}""""))
          .cast("boolean"))))
    val distributed = laidOut(t, aligned)
    if (t.format == "csv") {
      graft.sources.ExternalTables.writeCsv(
        distributed, t.path, mode = "append")
      distributed
    } else {
      // parquet (managed default) plus the writable-external PXF set
      // (json/orc) — Spark's native writers, one code path
      val w = distributed.write.mode("append")
      val coded =
        if (t.format == "parquet") w.option("compression", t.codec) else w
      (if (t.partitionCols.nonEmpty) coded.partitionBy(t.partitionCols: _*)
       else coded).format(t.format).save(t.path)
      refreshViews(spark, t)
    }
  }

  /** `rows` laid out for a write into `t` by its policy (cdbhash.c
    * routes the rows; sizing files is the AO segment writer's job):
    *  - a literal source of at most 10,000 rows (VALUES, DEFAULT VALUES,
    *    a global aggregate: the trigger/loop interpreter shape) into an
    *    unpartitioned table goes as one task: a REBALANCE would only add
    *    an exchange stage for AQE to re-coalesce (r10);
    *  - else a REBALANCE hint on the Hive partition columns, else on the
    *    DISTRIBUTED BY columns. AQE sizes its output partitions by bytes
    *    (advisoryPartitionSizeInBytes): a 100-row write commits one file,
    *    a 100 TB write ~target-size files, and oversized clusters split
    *    (skew-safe). A fixed repartition(shuffle.partitions, cols) pinned
    *    the file count to that constant at every scale (r9);
    *  - else the rows as they come. */
  private def laidOut(t: GpTable, rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    def literalRows(p: logical.LogicalPlan): Option[Int] = p match {
      case l: logical.LocalRelation => Some(l.data.size)
      case pr: logical.Project => literalRows(pr.child)
      case s: logical.SubqueryAlias => literalRows(s.child)
      case f: logical.Filter =>
        literalRows(f.child) // trigger-skip/CHECK filters: bound still holds
      case r: logical.Range =>
        Some(r.numElements.min(BigInt(Int.MaxValue)).toInt) // DEFAULT VALUES
      case a: logical.Aggregate if a.groupingExpressions.isEmpty =>
        Some(1) // a global aggregate emits exactly one row at ANY scale
      case _ => None
    }
    // hint params must be UNresolved column refs (ResolveCoalesceHints
    // rejects pre-resolved AttributeReferences)
    def rebalance(cols: Seq[String]) =
      rows.hint("rebalance", cols.map(org.apache.spark.sql.functions.col): _*)
    if (t.partitionCols.isEmpty &&
        literalRows(rows.queryExecution.analyzed).exists(_ <= 10000))
      rows.coalesce(1)
    else if (t.partitionCols.nonEmpty) rebalance(t.partitionCols)
    else if (t.distributionCols.nonEmpty) rebalance(t.distributionCols)
    else rows
  }

  /** Read a catalog table with its DECLARED schema — never schema
    * inference (r10: every inferring `spark.read.parquet(t.path)` ran a
    * one-task footer-read JOB; the DML statement floor paid three of
    * them per DELETE/UPDATE). Partition columns come back last after a
    * partitioned write; restore declared order so SELECT * matches the
    * DDL. */
  private[graft] def readTable(spark: SparkSession, t: GpTable): DataFrame =
    spark.read.schema(
      StructType(t.schema.filterNot(f => t.partitionCols.contains(f.name)) ++
        t.schema.filter(f => t.partitionCols.contains(f.name))))
      .format(t.format).load(t.path)
      .select(t.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)

  private def refreshView(spark: SparkSession, t: GpTable): DataFrame = {
    val back = readTable(spark, t)
    back.createOrReplaceTempView(t.name)
    back
  }

  /** The last step of every statement that changes `t`'s files: `t`'s
    * view and the views that read `t` re-resolve against them. */
  private def refreshViews(spark: SparkSession, t: GpTable): DataFrame = {
    val back = refreshView(spark, t)
    reresolveDependentViews(spark, t.name)
    back
  }

  /** `schema` as a Parquet read returns it: every field, element and
    * value nullable. */
  private def readable(schema: StructType): StructType = {
    def open(dt: DataType): DataType = dt match {
      case s: StructType => readable(s)
      case a: ArrayType => ArrayType(open(a.elementType), containsNull = true)
      case m: MapType => MapType(open(m.keyType), open(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    StructType(schema.map(f =>
      f.copy(dataType = open(f.dataType), nullable = true)))
  }

  /** Every copy-on-write DML statement on catalog table `t` (UPDATE,
    * DELETE, their FROM / USING forms, MERGE, ON CONFLICT DO UPDATE and
    * the INSTEAD OF and DML-loop bodies) is one [[Dml.merge]] rewrite.
    * Returns the affected-row count. */
  private def mergeTable(
      spark: SparkSession, t: GpTable, source: Option[Dml.Source],
      whens: Seq[Dml.When]): Long =
    rewriteTable(spark, t, t, "UPDATE, DELETE and MERGE")(
      Dml.merge(spark, _, _, source, whens))

  /** Replaces catalog table `t`'s files, as PG's make_new_heap /
    * finish_heap_swap do for CLUSTER, VACUUM FULL and the ALTER TABLE
    * rewrites (commands/cluster.c). `kernel` gets the storage of `next`,
    * the entry the statement leaves behind, and `t`'s rows read with the
    * declared schema, and swaps the new rows in with [[Dml.overwrite]].
    * Then `next` is stored and [[refreshViews]] runs on it. */
  private def rewriteTable[A](
      spark: SparkSession, t: GpTable, next: GpTable, statement: String)(
      kernel: (Dml.Storage, DataFrame) => A): A = {
    // the rewrite writes Parquet back: any other format would silently
    // change under a writable external table's readers
    require(t.format == "parquet",
      s"${t.name}: $statement can only rewrite Parquet tables," +
        s" not ${t.format}")
    if (next.schema != t.schema) requireViewsResolve(spark, t, next)
    val out = kernel(Dml.Storage(next.path, next.partitionCols, next.codec),
      readTable(spark, t))
    catalog.put(next.name, next)
    refreshViews(spark, next)
    out
  }

  /** A DML statement's FROM / USING relation: a catalog table read with
    * its declared schema, else a registered view. */
  private def dmlSource(spark: SparkSession, name: String): DataFrame =
    catalog.get(name.toLowerCase) match {
      case Some(s) if s.format != "csv" => readTable(spark, s)
      case _ => spark.table(name)
    }

  private val SrcPrefix = "__src_"

  /** A DML source with every column under [[SrcPrefix]], so that bare
    * names in the statement's expressions mean the target's columns. */
  private def prefixed(src: DataFrame): DataFrame =
    src.toDF(src.columns.map(c => SrcPrefix + c.toLowerCase).toIndexedSeq: _*)

  /** `a = e, b = f` → (lower-case column, expression text) pairs. */
  private def setList(clause: String): Seq[(String, String)] =
    SqlLex.split(clause, ',').map { a =>
      val Array(k, v) = a.split("=", 2)
      k.trim.toLowerCase -> v.trim
    }

  // ---- phase 2: CREATE EXTERNAL TABLE --------------------------------

  /** `CREATE [WRITABLE] EXTERNAL TABLE t (cols) LOCATION ('file://…')
    * FORMAT 'CSV' [(...)] [SEGMENT REJECT LIMIT n]` — readable form binds
    * an ExternalTables CSV scan with COPY reject semantics and registers
    * view t; writable form records the sink in the catalog (INSERT INTO
    * writes CSV). */
  def executeCreateExternal(
      spark: SparkSession, gpSql: String, basePath: String): DataFrame = {
    val m = ("(?is)^\\s*CREATE\\s+(WRITABLE\\s+)?EXTERNAL\\s+TABLE\\s+" +
      "(\\w+)\\s*\\(").r.findFirstMatchIn(gpSql)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse CREATE EXTERNAL TABLE: $gpSql"))
    val writable = m.group(1) != null
    val name = m.group(2).toLowerCase
    val open = gpSql.indexOf('(', m.start + m.group(0).length - 1)
    val close = SqlLex.matchParen(gpSql, open)
    val schema = StructType(
      parseColumnDefs(gpSql.substring(open + 1, close))._1.map(c =>
        StructField(c.name, sparkType(c.tpe))))
    val loc = "(?is)\\bLOCATION\\s*\\(\\s*'([^']*)'".r
      .findFirstMatchIn(gpSql)
      .map(_.group(1)).getOrElse(
        throw new IllegalArgumentException("EXTERNAL TABLE needs LOCATION"))
    val path = loc.replaceFirst("^(gpfdist|file)://[^/]*", "")
    // CSV/TEXT are gpfdist's own formats (access/external/); the
    // columnar/self-describing set (PARQUET/ORC/JSON/AVRO) is the PXF
    // surface (gpcontrib pxf_fdw) — Spark's native readers bind the
    // first three (no avro reader on the offline classpath). SEGMENT
    // REJECT LIMIT applies to text parsing only, as in the reference
    // (cdbsreh.c handles format errors of the text parser).
    val fmt = "(?is)\\bFORMAT\\s+'(\\w+)'".r.findFirstMatchIn(gpSql)
      .map(_.group(1).toUpperCase).getOrElse("CSV")
    require(Set("CSV", "TEXT", "PARQUET", "JSON", "ORC")(fmt),
      s"external format $fmt not bound (file CSV/TEXT/PARQUET/JSON/ORC)")
    val rejectLimit = "(?is)\\bSEGMENT\\s+REJECT\\s+LIMIT\\s+(\\d+)".r
      .findFirstMatchIn(gpSql).map(_.group(1).toInt).getOrElse(0)
    if (writable) {
      // writable routing: INSERT appends with the recorded format —
      // CSV/TEXT via the gpfdist-style text writer, PARQUET/JSON/ORC
      // via Spark's native writers (r6: json/orc export no longer
      // rejected; fileam.c:705 external_insert emits the declared
      // external format). A PARQUET sink has no WITH clause: it keeps
      // Spark's default codec
      catalog(name) = GpTable(name, path, schema, Seq.empty, Seq.empty,
        "snappy", format = fmt match {
          case "CSV" | "TEXT" => "csv"
          case other => other.toLowerCase
        })
      spark.emptyDataFrame
    } else {
      val df = fmt match {
        case "CSV" | "TEXT" => graft.sources.ExternalTables
          .readCsvWithRejectLimit(spark, path, schema, rejectLimit)
        case other => spark.read.format(other.toLowerCase)
          .schema(schema).load(path)
      }
      df.createOrReplaceTempView(name)
      df
    }
  }

  /** CTAS with GP physics: the rows laid out by the distribution policy
    * as [[appendFrame]] lays them out, written as Parquet with the DDL's
    * codec. Returns the new table's catalog entry, not yet registered. */
  def createTableAs(
      spark: SparkSession, name: String, ddl: GpDdl, select: DataFrame,
      path: String): GpTable = {
    val t = GpTable(name, path, readable(select.schema), Seq.empty,
      ddl.distributionCols, parquetCodec(ddl))
    laidOut(t, select).write.mode("overwrite")
      .option("compression", t.codec).parquet(path)
    t
  }
}
