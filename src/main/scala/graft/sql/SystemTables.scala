package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The global system connector's runtime tables (reference:
  * presto-main/.../connector/system/ — NodeSystemTable.java:50-55,
  * QuerySystemTable.java:56-71, TaskSystemTable.java,
  * TransactionsSystemTable.java:60-68; wired by
  * GlobalSystemConnector.java). `SELECT ... FROM system.runtime.X`
  * resolves through the PrestoSql front door: the fully-qualified names
  * rewrite to session temp views refreshed (snapshot semantics) at
  * statement time.
  *
  * Spark mapping: nodes come from the SparkContext status tracker
  * (driver = coordinator — SURVEY §3.4: Spark's driver IS the
  * coordinator), tasks from the stage snapshot, queries from a
  * per-session bounded ring of front-door statements, transactions from
  * [[graft.operators.TransactionOps]]. Documented deltas: the query log
  * records front-door completion (no queued/analysis phase split — the
  * driver plans synchronously), and tasks are Spark STAGES (the
  * execution unit Spark schedules; Presto tasks = stage x node).
  */
object SystemTables {

  final case class QueryRecord(id: String, state: String, user: String,
      source: String, query: String, createdMs: Long, endMs: Long,
      clientTags: Seq[String] = Seq.empty, clientInfo: Option[String] = None,
      traceToken: Option[String] = None, queryType: Option[String] = None,
      clientCapabilities: Seq[String] = Seq.empty)

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)
  private val logs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.ArrayBuffer[QueryRecord]]())
  private val MaxLog = 1000

  private def logOf(spark: SparkSession) = {
    var l = logs.get(spark)
    if (l == null) { l = scala.collection.mutable.ArrayBuffer.empty[QueryRecord]; logs.put(spark, l) }
    l
  }

  /** QueryId shape: reference QueryIdGenerator —
    * yyyyMMdd_HHmmss_counter_suffix. */
  def newQueryId(createdMs: Long): String = {
    val ts = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
    ts.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    s"${ts.format(new java.util.Date(createdMs))}_${"%05d".format(counter.incrementAndGet())}_graft"
  }

  /** Record a front-door statement under its pre-assigned id. Upsert:
    * the HTTP protocol server records QUEUED/RUNNING before planning,
    * and the front door's completion record then TRANSITIONS the same
    * entry (state + end time only — the submission's user/source/
    * created are the facts of record, like the reference's
    * QueryStateMachine) rather than appending a duplicate id. `source`
    * is the client identity (QuerySystemTable's source column; the
    * reference fills it from the X-Presto-Source header). */
  def record(spark: SparkSession, id: String, query: String, state: String,
      createdMs: Long, source: String = "graft", user: String = null,
      clientTags: Seq[String] = Seq.empty, clientInfo: Option[String] = None,
      traceToken: Option[String] = None, queryType: Option[String] = None,
      clientCapabilities: Seq[String] = Seq.empty): Unit = {
    val l = logOf(spark)
    l.synchronized {
      val i = l.indexWhere(_.id == id)
      if (i >= 0) l(i) = l(i).copy(state = state, endMs = System.currentTimeMillis())
      else {
        l += QueryRecord(id, state,
          Option(user).getOrElse(AccessControl.principal(spark)), source,
          query, createdMs, System.currentTimeMillis(),
          clientTags, clientInfo, traceToken,
          queryType.orElse(ResourceGroups.queryTypeOf(query)), clientCapabilities)
        if (l.length > MaxLog) l.remove(0, l.length - MaxLog)
      }
    }
  }

  /** FAIL the entry only if it is still live (QUEUED/RUNNING) — the
    * limit-enforcement timer's transition (QueryTracker.java's
    * query.fail is a no-op on done queries the same way). */
  def failIfActive(spark: SparkSession, id: String): Unit = {
    val l = logOf(spark)
    l.synchronized {
      val i = l.indexWhere(_.id == id)
      if (i >= 0 && (l(i).state == "QUEUED" || l(i).state == "RUNNING"))
        l(i) = l(i).copy(state = "FAILED", endMs = System.currentTimeMillis())
    }
  }

  /** In-place state transition for an already-recorded query (the HTTP
    * protocol server's RUNNING -> FINISHED/FAILED lifecycle; the
    * reference's Query.java drives the same transitions on
    * QueryStateMachine). No-op if the id is unknown. */
  def updateState(spark: SparkSession, id: String, state: String): Unit = {
    val l = logOf(spark)
    l.synchronized {
      val i = l.indexWhere(_.id == id)
      if (i >= 0) l(i) = l(i).copy(state = state, endMs = System.currentTimeMillis())
    }
  }

  /** CALL system.runtime.kill_query(id) — KillQueryProcedure.java:
    * cancels every Spark job tagged with the query's job group, and
    * every job submitted to it later (the front door tags the calling
    * thread per statement, and Spark job groups are sticky
    * thread-locals, so later actions on a returned lazy DataFrame from
    * that thread carry the id; a kill that lands before the first job
    * must still stop it). Spark remembers the last
    * `spark.scheduler.numCancelledJobGroupsToTrack` cancelled groups;
    * query ids are unique. Marks the log entry FAILED like the
    * reference's generic user-cancel error.
    */
  def killQuery(spark: SparkSession, id: String): Unit = {
    spark.sparkContext.cancelJobGroupAndFutureJobs(id)
    val l = logOf(spark)
    l.synchronized {
      val i = l.indexWhere(_.id == id)
      if (i >= 0) l(i) = l(i).copy(state = "FAILED")
    }
  }

  /** Does the statement reference a system.runtime / system.metadata /
    * system.jdbc table? (The reference's GlobalSystemConnector serves
    * all three schemas.) */
  private val sysRef =
    ("(?i)system\\.(runtime\\.(?:nodes|queries|tasks|transactions|resource_groups)" +
      "|metadata\\.(?:catalogs|table_properties|schema_properties|column_properties" +
      "|analyze_properties)" +
      "|jdbc\\.(?:catalogs|schemas|tables|columns|table_types|types|procedures" +
      "|procedure_columns|pseudo_columns|super_tables|super_types|udts|attributes))").r

  private val jdbcRef = "(?i)system\\.jdbc\\.".r

  def referencesSystemTables(text: String): Boolean =
    sysRef.findFirstIn(text).isDefined

  /** The jdbc schema's snapshot walks the catalog (a listColumns per
    * table), so it refreshes only for statements that touch it. */
  def referencesJdbcTables(text: String): Boolean =
    jdbcRef.findFirstIn(text).isDefined

  /** Rewrite fully-qualified system.X.Y references to the temp view
    * names (after [[refreshViews]] has materialized snapshots). */
  def rewriteRefs(text: String): String =
    sysRef.replaceAllIn(text, m => s"system_${m.group(1).toLowerCase.replace('.', '_')}")

  /** Materialize statement-time snapshots of the four runtime tables. */
  def refreshViews(spark: SparkSession): Unit = {
    import spark.implicits._
    val tracker = spark.sparkContext.statusTracker

    // system.runtime.nodes (NodeSystemTable.java:50-55). Only the
    // driver row is the coordinator (NodeSystemTable flags exactly one);
    // executors match by the driver's block-manager host:port — in
    // local mode the single entry IS the driver, on a cluster workers
    // report false.
    val driverHostPort = org.apache.spark.sql.graft.DriverNode.hostPort()
    val execs = tracker.getExecutorInfos.toSeq.map { e =>
      val id = e.host + ":" + e.port
      (id, s"http://$id", spark.version, id == driverHostPort, "active")
    }
    execs.toDF("node_id", "http_uri", "node_version", "coordinator", "state")
      .createOrReplaceTempView("system_runtime_nodes")

    // system.runtime.queries (QuerySystemTable.java:56-71 core columns
    // + client_tags / client_info / trace_token from the wire headers —
    // PrestoHeaders.java:25,38,39; the reference records them on
    // QueryInfo and this table is where tracing integrations read them)
    val l = logOf(spark)
    val qs = l.synchronized { l.toSeq }
    qs.map(r => (r.id, r.state, r.user, r.source, r.query,
        new java.sql.Timestamp(r.createdMs), new java.sql.Timestamp(r.endMs),
        r.clientTags, r.clientInfo.orNull, r.traceToken.orNull,
        r.queryType.orNull, r.clientCapabilities))
      .toDF("query_id", "state", "user", "source", "query", "created", "end",
        "client_tags", "client_info", "trace_token", "query_type",
        "client_capabilities")
      .createOrReplaceTempView("system_runtime_queries")

    // system.runtime.tasks (TaskSystemTable.java; Spark stage = the
    // scheduled execution unit)
    val stages = tracker.getActiveStageIds.toSeq.flatMap(id =>
      Option(tracker.getStageInfo(id)).filter(_.isDefined).map(_.get))
      .map { s =>
        (s"stage-${s.stageId}.${s.currentAttemptId}", s.stageId.toLong,
          "driver", "RUNNING", s.numTasks.toLong, s.numActiveTasks.toLong,
          s.numCompletedTasks.toLong, s.numFailedTasks.toLong)
      }
    stages.toDF("task_id", "stage_id", "node_id", "state", "splits",
        "running_splits", "completed_splits", "failed_splits")
      .createOrReplaceTempView("system_runtime_tasks")

    // system.runtime.transactions (TransactionsSystemTable.java:60-68)
    val txns = graft.operators.TransactionOps.activeTransaction(spark).toSeq
      .map { case (id, created, staged) =>
        (id, "SNAPSHOT", staged.isEmpty, false,
          new java.sql.Timestamp(created),
          (System.currentTimeMillis() - created) / 1000L,
          staged.headOption.orNull, staged)
      }
    txns.toDF("transaction_id", "isolation_level", "read_only",
        "auto_commit_context", "create_time", "idle_time_secs",
        "written_catalog", "catalogs")
      .createOrReplaceTempView("system_runtime_transactions")

    // system.runtime.resource_groups — admission observability (the
    // reference exposes per-group state via ResourceGroupInfo /
    // ResourceGroupStateInfo on the coordinator): one row per
    // instantiated group with live running/queued counters, so a parked
    // QUEUED query is visible through the same front door as everything
    // else. Empty when no configuration is installed.
    ResourceGroups.snapshotDetail(spark)
      .map(r => (r.groupId, r.running, r.queued, r.hardConcurrencyLimit,
        r.maxQueued, r.schedulingPolicy, r.schedulingWeight))
      .toDF("group_id", "running", "queued", "hard_concurrency_limit",
        "max_queued", "scheduling_policy", "scheduling_weight")
      .createOrReplaceTempView("system_runtime_resource_groups")

    // ---- system.metadata.* (the global connector's metadata schema:
    // CatalogSystemTable.java:44 catalogs; TablePropertiesSystemTable /
    // SchemaPropertiesSystemTable / ColumnPropertiesSystemTable /
    // AnalyzePropertiesSystemTable expose each catalog's declared
    // property metadata — the queryable form behind SHOW CATALOGS and
    // the WITH (...) property surface). Properties listed are the ones
    // this engine's writer paths actually honor.
    val cats = spark.catalog.listCatalogs().collect().map(_.name).distinct.sorted.toSeq
    cats.map(c => (c, c)).toDF("catalog_name", "connector_id")
      .createOrReplaceTempView("system_metadata_catalogs")
    val tblProps = cats.flatMap(c => Seq(
      (c, "format", "PARQUET", "varchar", "File format for the table"),
      (c, "partitioned_by", "[]", "array(varchar)", "Partition columns"),
      (c, "bucketed_by", "[]", "array(varchar)", "Bucketing columns"),
      (c, "bucket_count", "0", "integer", "Number of buckets"),
      (c, "zorder_by", "[]", "array(varchar)", "Z-order layout columns")))
    tblProps.toDF("catalog_name", "property_name", "default_value", "type", "description")
      .createOrReplaceTempView("system_metadata_table_properties")
    cats.map(c => (c, "location", "", "varchar", "Base file system location URI"))
      .toDF("catalog_name", "property_name", "default_value", "type", "description")
      .createOrReplaceTempView("system_metadata_schema_properties")
    // column/analyze properties: none declared by this engine's
    // connector — empty tables with the reference shape
    Seq.empty[(String, String, String, String, String)]
      .toDF("catalog_name", "property_name", "default_value", "type", "description")
      .createOrReplaceTempView("system_metadata_column_properties")
    Seq.empty[(String, String, String, String, String)]
      .toDF("catalog_name", "property_name", "default_value", "type", "description")
      .createOrReplaceTempView("system_metadata_analyze_properties")
  }

  // ---- system.jdbc.* ----

  import org.apache.spark.sql.types._

  /** JDBC type code for a Spark type, per the reference's
    * ColumnJdbcTable.jdbcDataType (java.sql.Types values). */
  private def jdbcTypeCode(dt: DataType): Long = {
    import java.sql.{Types => J}
    (dt match {
      case BooleanType => J.BOOLEAN
      case LongType => J.BIGINT
      case IntegerType => J.INTEGER
      case ShortType => J.SMALLINT
      case ByteType => J.TINYINT
      case FloatType => J.REAL
      case DoubleType => J.DOUBLE
      case _: DecimalType => J.DECIMAL
      case StringType => J.VARCHAR
      case BinaryType => J.VARBINARY
      case DateType => J.DATE
      case _: TimestampType => J.TIMESTAMP
      case TimestampNTZType => J.TIMESTAMP
      case _: ArrayType => J.ARRAY
      case _ => J.JAVA_OBJECT
    }).toLong
  }

  /** COLUMN_SIZE per ColumnJdbcTable.columnSize (null = unknown).
    * Spark's StringType maps to the reference's unbounded varchar,
    * whose length renders as Integer.MAX_VALUE. */
  private def jdbcColumnSize(dt: DataType): Option[Long] = dt match {
    case LongType => Some(19L)
    case IntegerType => Some(10L)
    case ShortType => Some(5L)
    case ByteType => Some(3L)
    case d: DecimalType => Some(d.precision.toLong)
    case FloatType => Some(24L)
    case DoubleType => Some(53L)
    case StringType => Some(Int.MaxValue.toLong)
    case BinaryType => Some(Int.MaxValue.toLong)
    case DateType => Some(14L)
    case _: TimestampType | TimestampNTZType => Some(23L) // 15 + 8
    case _ => None
  }

  private def jdbcDecimalDigits(dt: DataType): Option[Long] = dt match {
    case d: DecimalType => Some(d.scale.toLong)
    case _ => None
  }

  private def jdbcNumPrecRadix(dt: DataType): Option[Long] = dt match {
    case LongType | IntegerType | ShortType | ByteType | _: DecimalType => Some(10L)
    case FloatType | DoubleType => Some(2L)
    case _ => None
  }

  private def jdbcCharOctetLength(dt: DataType): Option[Long] = dt match {
    case StringType => Some(Int.MaxValue.toLong)
    case BinaryType => Some(Int.MaxValue.toLong)
    case _ => None
  }

  private val jdbcColumnsSchema = StructType(Seq(
    StructField("table_cat", StringType), StructField("table_schem", StringType),
    StructField("table_name", StringType), StructField("column_name", StringType),
    StructField("data_type", LongType), StructField("type_name", StringType),
    StructField("column_size", LongType), StructField("buffer_length", LongType),
    StructField("decimal_digits", LongType), StructField("num_prec_radix", LongType),
    StructField("nullable", LongType), StructField("remarks", StringType),
    StructField("column_def", StringType), StructField("sql_data_type", LongType),
    StructField("sql_datetime_sub", LongType), StructField("char_octet_length", LongType),
    StructField("ordinal_position", LongType), StructField("is_nullable", StringType),
    StructField("scope_catalog", StringType), StructField("scope_schema", StringType),
    StructField("scope_table", StringType), StructField("source_data_type", LongType),
    StructField("is_autoincrement", StringType), StructField("is_generatedcolumn", StringType)))

  private val jdbcTypesSchema = StructType(Seq(
    StructField("type_name", StringType), StructField("data_type", LongType),
    StructField("precision", LongType), StructField("literal_prefix", StringType),
    StructField("literal_suffix", StringType), StructField("create_params", StringType),
    StructField("nullable", LongType), StructField("case_sensitive", BooleanType),
    StructField("searchable", LongType), StructField("unsigned_attribute", BooleanType),
    StructField("fixed_prec_scale", BooleanType), StructField("auto_increment", BooleanType),
    StructField("local_type_name", StringType), StructField("minimum_scale", LongType),
    StructField("maximum_scale", LongType), StructField("sql_data_type", LongType),
    StructField("sql_datetime_sub", LongType), StructField("num_prec_radix", LongType)))

  private def emptyView(spark: SparkSession, name: String, cols: Seq[(String, DataType)]): Unit =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(cols.map { case (n, t) => StructField(n, t) }))
      .createOrReplaceTempView(name)

  /** system.jdbc.* — the JDBC driver's metadata schema
    * (connector/system/jdbc/: CatalogJdbcTable.java, SchemaJdbcTable.java,
    * TableJdbcTable.java, ColumnJdbcTable.java, TableTypeJdbcTable.java,
    * TypesJdbcTable.java, ProcedureJdbcTable.java et al.): the tables
    * every JDBC client's DatabaseMetaData.getCatalogs/getSchemas/
    * getTables/getColumns/getTableTypes/getTypeInfo calls resolve
    * through. Statement-time snapshots like system.runtime, refreshed
    * only for statements that reference the schema (the column listing
    * walks the catalog). The driver's filter arguments arrive as
    * ordinary WHERE conjuncts and prune these LocalRelations
    * Catalyst-side — the moral equivalent of FilterUtil.java's
    * TupleDomain pushdown (the snapshot is metadata-bounded, so
    * pushdown trims rows, not I/O). Documented delta: the materialized
    * system_* snapshot views themselves are excluded from
    * tables/columns (their presence depends on which system statements
    * ran earlier — a nondeterministic self-listing the reference, with
    * a true virtual system catalog, does not have).
    */
  def refreshJdbcViews(spark: SparkSession): Unit = {
    import spark.implicits._
    import java.sql.{DatabaseMetaData => M, Types => J}
    val cats = spark.catalog.listCatalogs().collect().map(_.name).distinct.sorted.toSeq
    val cat = cats.headOption.getOrElse("spark_catalog")
    cats.map(Tuple1(_)).toDF("table_cat")
      .createOrReplaceTempView("system_jdbc_catalogs")
    val dbs = spark.catalog.listDatabases().collect().map(_.name).sorted.toSeq
    (for { c <- cats; d <- dbs } yield (d, c)).toDF("table_schem", "table_catalog")
      .createOrReplaceTempView("system_jdbc_schemas")
    Seq("TABLE", "VIEW").map(Tuple1(_)).toDF("table_type")
      .createOrReplaceTempView("system_jdbc_table_types")

    // one catalog walk serves jdbc.tables AND jdbc.columns. Temp views
    // (how the engine registers fixture tables) are session-global in
    // Spark: they list with a null database — surfaced once under
    // "default" as TABLEs (they are the engine's data tables); persistent
    // VIEWs keep their type.
    val tbls = dbs.flatMap { db =>
      spark.catalog.listTables(db).collect().toSeq
        .filterNot(_.name.startsWith("system_"))
        .map { t =>
          val schem = Option(t.database).getOrElse("default")
          val typ = if (t.tableType == "VIEW") "VIEW" else "TABLE"
          (schem, t.name, typ, t.isTemporary)
        }
    }.distinct.sortBy(t => (t._1, t._2))
    tbls.map { case (schem, name, typ, _) =>
      (cat, schem, name, typ, null: String, null: String, null: String,
        null: String, null: String, null: String)
    }.toDF("table_cat", "table_schem", "table_name", "table_type", "remarks",
        "type_cat", "type_schem", "type_name", "self_referencing_col_name",
        "ref_generation")
      .createOrReplaceTempView("system_jdbc_tables")

    val colRows: Seq[org.apache.spark.sql.Row] = tbls.flatMap { case (schem, name, _, temp) =>
      val fields =
        try {
          (if (temp) spark.table(s"`$name`") else spark.table(s"`$schem`.`$name`"))
            .schema.fields.toSeq
        } catch { case _: Exception => Seq.empty }
      fields.zipWithIndex.map { case (f, i) =>
        val dt = f.dataType
        org.apache.spark.sql.Row(
          cat, schem, name, f.name,
          jdbcTypeCode(dt), graft.sql.Metadata.prestoType(dt),
          jdbcColumnSize(dt).map(Long.box).orNull, 0L,
          jdbcDecimalDigits(dt).map(Long.box).orNull,
          jdbcNumPrecRadix(dt).map(Long.box).orNull,
          M.columnNullableUnknown.toLong, null, null, null, null,
          jdbcCharOctetLength(dt).map(Long.box).orNull,
          (i + 1).toLong, "", null, null, null, null, null, null)
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(colRows: _*), jdbcColumnsSchema)
      .createOrReplaceTempView("system_jdbc_columns")

    // jdbc.types (TypesJdbcTable.java): the engine's type inventory with
    // JDBC codes. Concrete scalar types first (searchable — all are
    // comparable), then the parametric constructors (decimal/varchar/
    // char/array/map/row), which the reference lists with null
    // precision and typePredNone.
    val scalarTypes: Seq[(String, Int, Option[Long], Option[Long])] = Seq(
      ("boolean", J.BOOLEAN, None, None),
      ("bigint", J.BIGINT, Some(19L), Some(10L)),
      ("integer", J.INTEGER, Some(10L), Some(10L)),
      ("smallint", J.SMALLINT, Some(5L), Some(10L)),
      ("tinyint", J.TINYINT, Some(3L), Some(10L)),
      ("real", J.REAL, Some(24L), Some(2L)),
      ("double", J.DOUBLE, Some(53L), Some(2L)),
      ("varbinary", J.VARBINARY, Some(Int.MaxValue.toLong), None),
      ("date", J.DATE, Some(14L), None),
      ("time", J.TIME, Some(8L), None),
      ("time with time zone", J.TIME_WITH_TIMEZONE, Some(14L), None),
      ("timestamp", J.TIMESTAMP, Some(23L), None),
      ("timestamp with time zone", J.TIMESTAMP_WITH_TIMEZONE, Some(29L), None))
    val parametricTypes: Seq[(String, Int)] = Seq(
      ("decimal", J.JAVA_OBJECT), ("varchar", J.JAVA_OBJECT),
      ("char", J.JAVA_OBJECT), ("array", J.ARRAY),
      ("map", J.JAVA_OBJECT), ("row", J.JAVA_OBJECT))
    val typeRows =
      scalarTypes.map { case (n, code, prec, radix) =>
        org.apache.spark.sql.Row(n, code.toLong, prec.map(Long.box).orNull,
          null, null, null, M.typeNullable.toLong, false,
          M.typeSearchable.toLong, null, false, null, null, 0L, 0L,
          null, null, radix.map(Long.box).orNull)
      } ++ parametricTypes.map { case (n, code) =>
        org.apache.spark.sql.Row(n, code.toLong, null, null, null, null,
          M.typeNullable.toLong, false, M.typePredNone.toLong, null,
          false, null, null, 0L, 0L, null, null, null)
      }
    spark.createDataFrame(java.util.Arrays.asList(typeRows: _*), jdbcTypesSchema)
      .createOrReplaceTempView("system_jdbc_types")

    // the always-empty metadata tables, with the reference shapes:
    // procedures / procedure_columns / pseudo_columns / super_tables /
    // super_types / udts / attributes (each returns an empty cursor in
    // the reference too)
    emptyView(spark, "system_jdbc_procedures", Seq(
      "procedure_cat" -> StringType, "procedure_schem" -> StringType,
      "procedure_name" -> StringType, "remarks" -> StringType,
      "procedure_type" -> LongType, "specific_name" -> StringType))
    emptyView(spark, "system_jdbc_procedure_columns", Seq(
      "procedure_cat" -> StringType, "procedure_schem" -> StringType,
      "procedure_name" -> StringType, "column_name" -> StringType,
      "column_type" -> LongType, "data_type" -> LongType,
      "type_name" -> StringType, "precision" -> LongType,
      "length" -> LongType, "scale" -> LongType, "radix" -> LongType,
      "nullable" -> LongType, "remarks" -> StringType,
      "column_def" -> StringType, "sql_data_type" -> LongType,
      "sql_datetime_sub" -> LongType, "char_octet_length" -> LongType,
      "ordinal_position" -> LongType, "is_nullable" -> StringType,
      "specific_name" -> StringType))
    emptyView(spark, "system_jdbc_pseudo_columns", Seq(
      "table_cat" -> StringType, "table_schem" -> StringType,
      "table_name" -> StringType, "column_name" -> StringType,
      "data_type" -> LongType, "column_size" -> LongType,
      "decimal_digits" -> LongType, "num_prec_radix" -> LongType,
      "column_usage" -> StringType, "remarks" -> StringType,
      "char_octet_length" -> LongType, "is_nullable" -> LongType))
    emptyView(spark, "system_jdbc_super_tables", Seq(
      "table_cat" -> StringType, "table_schem" -> StringType,
      "table_name" -> StringType, "supertable_name" -> StringType))
    emptyView(spark, "system_jdbc_super_types", Seq(
      "type_cat" -> StringType, "type_schem" -> StringType,
      "type_name" -> StringType, "supertype_cat" -> StringType,
      "supertype_schem" -> StringType, "supertype_name" -> StringType))
    emptyView(spark, "system_jdbc_udts", Seq(
      "type_cat" -> StringType, "type_schem" -> StringType,
      "type_name" -> StringType, "class_name" -> StringType,
      "data_type" -> StringType, "remarks" -> StringType,
      "base_type" -> StringType))
    emptyView(spark, "system_jdbc_attributes", Seq(
      "type_cat" -> StringType, "type_schem" -> StringType,
      "type_name" -> StringType, "attr_name" -> StringType,
      "data_type" -> LongType, "attr_type_name" -> StringType,
      "attr_size" -> LongType, "decimal_digits" -> LongType,
      "num_prec_radix" -> LongType, "nullable" -> LongType,
      "remarks" -> StringType, "attr_def" -> StringType,
      "sql_data_type" -> LongType, "sql_datetime_sub" -> LongType,
      "char_octet_length" -> LongType, "ordinal_position" -> LongType,
      "is_nullable" -> StringType, "scope_catalog" -> StringType,
      "scope_schema" -> StringType, "scope_table" -> StringType,
      "source_data_type" -> LongType))
  }
}
