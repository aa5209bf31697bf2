package graft.sources

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Schema + sample collection — the Spark re-expression of
  * `dbsurveyor-collect` (dbsurveyor-collect/src/collect.rs + the
  * dbsurveyor-core/src/adapters modules): enumerate tables from a source,
  * extract typed schema metadata, row counts, and a MostRecent-style
  * sample per table, into a portable artifact
  * (dbsurveyor-core/src/models.rs:431 DatabaseSchema).
  *
  * Sources are pluggable like the reference's adapters: a parquet lake
  * (tested here) or any JDBC database via Spark's JDBC source (same code
  * path the reference's postgres/mysql/sqlite adapters cover; untestable
  * in this container — no database — but the wiring is the standard
  * `spark.read.jdbc`, partitioned on request).
  */
trait TableSource {
  def name: String
  def tableNames: Seq[String]
  def load(table: String): DataFrame
  /** Engine identity block (reference models.rs:272-326 DatabaseInfo:
    * engine name + version serialized into the artifact).
    */
  def engine: (String, String) = ("unknown", "unknown")
}

/** A source whose engine catalog can be read directly: COLLECTED (not
  * inferred) keys, indexes and relationships — the reference's core
  * identity (adapters/postgres/schema_collection.rs, mysql/…: the
  * adapters read pg_catalog / information_schema instead of guessing
  * from data). Collector prefers this metadata when present and stamps
  * the artifact's provenance accordingly.
  */
trait MetadataSource { self: TableSource =>
  /** Per-table collected metadata; throwing degrades to inference. */
  def tableMetadata(table: String): Collector.CollectedTableMeta
  /** Engine-declared foreign keys across the surveyed tables. */
  def collectedForeignKeys: Seq[Collector.FkEdge]
  /** Engine stored routines (procedures + functions) with parameters
    * (reference models.rs:187-214 Procedure/Parameter); empty when the
    * engine exposes none.
    */
  def collectedRoutines: Seq[Collector.RoutineInfo] = Nil
  /** Engine custom/user-defined types (reference models.rs:243-259
    * CustomType); empty when the engine exposes none.
    */
  def collectedCustomTypes: Seq[Collector.CustomTypeInfo] = Nil
}

/** Parquet-lake source over the `<dir>/<name>.parquet` layout. */
class ParquetSource(spark: SparkSession, dir: String) extends TableSource {
  def name: String = s"parquet:$dir"
  def tableNames: Seq[String] = Tables.all
  def load(table: String): DataFrame = Tables.table(spark, dir, table)
  override def engine: (String, String) = ("spark-parquet-lake", spark.version)
}

/** JDBC source: each table is read through Spark's JDBC relation —
  * predicate pushdown and column pruning reach the remote database, and
  * `partitionColumn` bounds give parallel reads on a cluster. Catalog
  * metadata (primary keys, indexes, foreign keys, engine version) is
  * COLLECTED through the driver's `DatabaseMetaData` — the same catalog
  * surface the reference's adapters query with dialect SQL
  * (postgres/schema_collection.rs:1-877, mysql/schema_collection.rs),
  * expressed here through JDBC's engine-neutral metadata API so one
  * code path covers every dialect with a conforming driver.
  */
class JdbcSource(spark: SparkSession, url: String, tables: Seq[String] = Nil,
    props: java.util.Properties = new java.util.Properties())
    extends TableSource with MetadataSource {
  import Collector.{CollectedTableMeta, IndexInfo, FkEdge, RoutineInfo,
    RoutineParam, CustomTypeInfo}

  // hive2 endpoints need backtick identifier quoting (see HiveDialect)
  if (HiveDialect.canHandle(url)) HiveDialect.register()

  /** Credential sanitization (reference guarantee: no credentials in any
    * output): masks userinfo (`user:secret@host`) and password-ish
    * key=value params across JDBC URL dialects.
    */
  def name: String = url
    .replaceAll("://([^/@:;]+):[^@/;]+@", "://$1:***@")
    .replaceAll("(?i)(password|passwd|pwd|secret)=[^&;]*", "$1=***")

  /** With an empty `tables` list, the survey target set is DISCOVERED
    * from the engine catalog — user tables AND views, system schemas
    * excluded — exactly how the reference enumerates its targets
    * (dbsurveyor-collect surveys the whole database unless told
    * otherwise). Discovery result also powers per-table type lookup.
    */
  private lazy val discovered: Seq[(String, String)] = withConnection { c =>
    // no server-side type filter: drivers TRANSLATE a requested-types
    // array through their own vocabulary before sending it (hive-jdbc
    // maps TABLE→MANAGED_TABLE, VIEW→VIRTUAL_VIEW), and the server may
    // speak yet another one (Spark's thrift server answers TABLE/VIEW)
    // — a requested array can silently drop every view. Filter the
    // RETURNED type strings instead, accepting every vocabulary in the
    // wild: *VIEW* → view; TABLE / *_TABLE (MANAGED_TABLE,
    // EXTERNAL_TABLE) / "* TABLE" (information-schema-derived drivers
    // report "BASE TABLE"; ADVICE r10) → table — EXCEPT "SYSTEM TABLE",
    // the one space-separated type that is not a survey target; anything
    // else (SYNONYM, ALIAS, SEQUENCE) is skipped.
    val rs = c.getMetaData.getTables(null, null, "%", null)
    val buf = Seq.newBuilder[(String, String)]
    while (rs.next()) {
      val schema = Option(rs.getString("TABLE_SCHEM")).getOrElse("")
      val tt = Option(rs.getString("TABLE_TYPE")).getOrElse("").toUpperCase
      val kind =
        if (tt.contains("VIEW")) Some("view")
        else if (tt == "TABLE" || tt.endsWith("_TABLE") ||
          (tt.endsWith(" TABLE") && tt != "SYSTEM TABLE")) Some("table")
        else None
      if (!schema.toUpperCase.startsWith("SYS") &&
          !schema.equalsIgnoreCase("information_schema"))
        kind.foreach(k => buf += ((rs.getString("TABLE_NAME"), k)))
    }
    rs.close()
    buf.result().sortBy(_._1)
  }

  def tableNames: Seq[String] =
    if (tables.nonEmpty) tables else discovered.map(_._1)
  def load(table: String): DataFrame = spark.read.jdbc(url, table, props)

  /** Partition-bounded parallel read — the cluster-scale JDBC ingest
    * shape: `numPartitions` executor-side range slices on an integer
    * column, whose bounds come from ONE min/max query through the same
    * connection (the reference reads single-threaded per table;
    * Spark's partitioned JDBC relation is the 1000-executor version).
    * Identifiers are quoted with the engine's quote string (mixed-case
    * and reserved names survive; nothing user-controlled is spliced
    * unquoted); an empty table (NULL min/max) degrades to the plain
    * unpartitioned read instead of fabricating [0,0] bounds.
    */
  def loadPartitioned(table: String, column: String,
      numPartitions: Int): DataFrame = {
    val bounds = withConnection { c =>
      val md = c.getMetaData
      val quote = Option(md.getIdentifierQuoteString).filter(_ != " ").getOrElse("")
      def ident(s: String): String =
        if (quote.isEmpty) s
        else quote + foldCase(md, s).replace(quote, quote + quote) + quote
      val st = c.createStatement()
      val rs = st.executeQuery(
        s"SELECT min(${ident(column)}), max(${ident(column)}) FROM ${ident(table)}")
      rs.next()
      val lo = rs.getLong(1)
      val loNull = rs.wasNull()
      val hi = rs.getLong(2)
      val hiNull = rs.wasNull()
      rs.close(); st.close()
      if (loNull || hiNull) None else Some((lo, hi))
    }
    bounds match {
      case Some((lo, hi)) =>
        spark.read.jdbc(url, table, column, lo, hi, numPartitions, props)
      case None => load(table)
    }
  }

  private def withConnection[A](f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  override def engine: (String, String) = withConnection { c =>
    val md = c.getMetaData
    (md.getDatabaseProductName, md.getDatabaseProductVersion)
  }

  /** Case folding: engines that fold unquoted identifiers to upper case
    * (Derby, Oracle, DB2 per SQL standard) store `people` as `PEOPLE` in
    * the catalog; try the name as given, then the engine's folded form.
    */
  private def foldCase(md: java.sql.DatabaseMetaData, t: String): String =
    // hive-jdbc throws "Method not supported" on the folding probes —
    // an engine that can't declare a folding gets the name as given
    try {
      if (md.storesUpperCaseIdentifiers) t.toUpperCase
      else if (md.storesLowerCaseIdentifiers) t.toLowerCase
      else t
    } catch { case _: java.sql.SQLException => t }

  /** Map a catalog-cased table name back to the name the survey uses —
    * the caller's explicit list OR the discovered set (iterating the
    * constructor list here silently dropped every FK in discovery mode,
    * where that list is empty).
    */
  private def asGiven(catalogName: String): String =
    tableNames.find(_.equalsIgnoreCase(catalogName)).getOrElse(catalogName)

  /** Per-SURFACE degrade (not all-or-nothing): engines expose very
    * different slices of this catalog — Derby answers everything,
    * HiveServer2 throws "Method not supported" on getPrimaryKeys /
    * getIndexInfo and labels getColumns rows differently. One failing
    * surface must not discard the others (the old single try around the
    * whole method silently dropped tableType and column details when
    * only the key catalog was missing). Each failure is RECORDED in
    * `notes` and lands in the table's artifact warnings — the
    * reference's per-adapter degrade behavior.
    */
  def tableMetadata(table: String): CollectedTableMeta = withConnection { c =>
    val md = c.getMetaData
    val t = foldCase(md, table)
    val notes = Seq.newBuilder[String]
    def surface[A](what: String, default: A)(f: => A): A =
      try f catch {
        case e: Exception =>
          notes += s"$what not collected: ${e.getClass.getSimpleName}: ${e.getMessage}"
          default
      }
    val pks = surface("primary keys", Seq.empty[String]) {
      val rs = md.getPrimaryKeys(null, null, t)
      val buf = Seq.newBuilder[(Short, String)]
      while (rs.next()) buf += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
      rs.close()
      buf.result().sortBy(_._1).map(_._2)
    }
    val indexes = surface("indexes", Seq.empty[IndexInfo]) {
      val rs = md.getIndexInfo(null, null, t, false, false)
      val buf = Seq.newBuilder[(String, Boolean, Short, String)]
      while (rs.next()) {
        val name = rs.getString("INDEX_NAME")
        val col = rs.getString("COLUMN_NAME")
        // tableIndexStatistic rows carry no index name/column — skip
        if (name != null && col != null)
          buf += ((name, !rs.getBoolean("NON_UNIQUE"),
            rs.getShort("ORDINAL_POSITION"), col))
      }
      rs.close()
      buf.result().groupBy(n => (n._1, n._2)).toSeq
        .map { case ((name, unique), cols) =>
          IndexInfo(name, cols.sortBy(_._3).map(_._4), unique) }
        .sortBy(_.name)
    }
    // NOT NULL is part of the engine catalog too — Spark's JDBC schema
    // defensively marks every remote column nullable, so nullability is
    // collected here from column metadata instead
    val (notNull, colDetails) =
      surface("column details", (Seq.empty[String], Seq.empty[Collector.ColumnDetail])) {
        val rs = md.getColumns(null, null, t, null)
        val nn = Seq.newBuilder[String]
        val det = Seq.newBuilder[Collector.ColumnDetail]
        // JDBC names the column IS_AUTOINCREMENT; hive-jdbc's result
        // set omits it — probe the label set once instead of letting a
        // per-row miss throw the whole surface away
        val labels = {
          val m = rs.getMetaData
          (1 to m.getColumnCount).map(i => m.getColumnLabel(i).toUpperCase).toSet
        }
        def optStr(r: java.sql.ResultSet, name: String): Option[String] =
          if (labels.contains(name.toUpperCase)) Option(r.getString(name)) else None
        while (rs.next()) {
          val name = rs.getString("COLUMN_NAME")
          if (rs.getInt("NULLABLE") == java.sql.DatabaseMetaData.columnNoNulls)
            nn += name
          // reference models.rs:71-77: is_auto_increment + default_value +
          // ordinal_position ride the same catalog row
          det += Collector.ColumnDetail(name,
            optStr(rs, "IS_AUTOINCREMENT").exists("YES".equalsIgnoreCase),
            optStr(rs, "COLUMN_DEF").map(_.trim).getOrElse(""),
            rs.getInt("ORDINAL_POSITION"))
        }
        rs.close()
        (nn.result(), det.result())
      }
    val tableType = discovered.collectFirst {
      case (n, tt) if n.equalsIgnoreCase(table) => tt
    }.getOrElse("table")
    val viewDef = surface("view definition", "")(
      if (tableType == "view") viewDefinition(c, t).getOrElse("") else "")
    CollectedTableMeta(pks, indexes, notNull, tableType = tableType,
      viewDefinition = viewDef,
      constraints = surface("check constraints", Seq.empty[Collector.ConstraintInfo])(
        checkConstraints(c, t)),
      triggers = surface("triggers", Seq.empty[Collector.TriggerInfo])(
        triggers(c, t)),
      columnDetails = colDetails,
      notes = notes.result())
  }

  /** Engine-specific view-definition lookup (reference models.rs:177-185
    * View.definition — the defining SQL serialized into the artifact).
    * JDBC has no neutral API for this surface, so it's a per-dialect
    * catalog query like the reference's adapters: Derby reads
    * SYS.SYSVIEWS; engines without a wired dialect degrade to "not
    * collected" (empty) rather than failing the survey.
    */
  private def viewDefinition(c: java.sql.Connection, catalogTable: String)
      : Option[String] =
    if (!c.getMetaData.getDatabaseProductName.contains("Derby")) None
    else {
      val ps = c.prepareStatement(
        """SELECT v.VIEWDEFINITION FROM SYS.SYSVIEWS v
          |JOIN SYS.SYSTABLES t ON v.TABLEID = t.TABLEID
          |WHERE t.TABLENAME = ?""".stripMargin)
      try {
        ps.setString(1, catalogTable)
        val rs = ps.executeQuery()
        val r = if (rs.next()) Option(rs.getString(1)) else None
        rs.close()
        r
      } finally ps.close()
    }

  /** Engine-declared CHECK constraints (reference models.rs:156-175
    * Constraint.check_clause, ConstraintType::Check). JDBC has no
    * neutral API for check clauses, so this is a per-dialect catalog
    * query like viewDefinition: Derby reads SYS.SYSCHECKS joined to
    * SYS.SYSCONSTRAINTS (TYPE 'C'); engines without a wired dialect
    * degrade to "not collected" (empty). Collected-beats-inferred:
    * these land with provenance = "collected" alongside the
    * ConstraintInference candidates.
    */
  private def checkConstraints(c: java.sql.Connection, catalogTable: String)
      : Seq[Collector.ConstraintInfo] =
    if (!c.getMetaData.getDatabaseProductName.contains("Derby")) Nil
    else {
      val ps = c.prepareStatement(
        """SELECT co.CONSTRAINTNAME, ck.CHECKDEFINITION
          |FROM SYS.SYSCHECKS ck
          |JOIN SYS.SYSCONSTRAINTS co ON ck.CONSTRAINTID = co.CONSTRAINTID
          |JOIN SYS.SYSTABLES t ON co.TABLEID = t.TABLEID
          |WHERE t.TABLENAME = ? AND co.TYPE = 'C'""".stripMargin)
      try {
        ps.setString(1, catalogTable)
        val rs = ps.executeQuery()
        val buf = Seq.newBuilder[Collector.ConstraintInfo]
        while (rs.next())
          buf += Collector.ConstraintInfo(rs.getString(1), "check",
            Nil, detail = Option(rs.getString(2)).getOrElse(""),
            provenance = "collected")
        rs.close()
        buf.result().sortBy(_.name)
      } finally ps.close()
    }

  /** Engine DML trigger metadata (reference models.rs:216-241): Derby
    * reads SYS.SYSTRIGGERS through the same dialect seam as
    * viewDefinition/checkConstraints; the single-char catalog codes map
    * to the reference's TriggerEvent ('I'/'U'/'D') and TriggerTiming
    * ('B'/'A') enums, TYPE 'R'/'S' to the row/statement orientation.
    */
  private def triggers(c: java.sql.Connection, catalogTable: String)
      : Seq[Collector.TriggerInfo] =
    if (!c.getMetaData.getDatabaseProductName.contains("Derby")) Nil
    else {
      val ps = c.prepareStatement(
        """SELECT tr.TRIGGERNAME, tr.EVENT, tr.FIRINGTIME, tr.TYPE,
          |       tr.TRIGGERDEFINITION
          |FROM SYS.SYSTRIGGERS tr
          |JOIN SYS.SYSTABLES t ON tr.TABLEID = t.TABLEID
          |WHERE t.TABLENAME = ?""".stripMargin)
      try {
        ps.setString(1, catalogTable)
        val rs = ps.executeQuery()
        val buf = Seq.newBuilder[Collector.TriggerInfo]
        while (rs.next()) {
          val event = rs.getString(2) match {
            case "I" => "insert"
            case "U" => "update"
            case "D" => "delete"
            case other => other.toLowerCase
          }
          val timing = rs.getString(3) match {
            case "B" => "before"
            case "A" => "after"
            case other => other.toLowerCase
          }
          val orientation = rs.getString(4) match {
            case "R" => "row"
            case "S" => "statement"
            case _ => ""
          }
          buf += Collector.TriggerInfo(rs.getString(1), event, timing,
            orientation, Option(rs.getString(5)).getOrElse(""))
        }
        rs.close()
        buf.result().sortBy(_.name)
      } finally ps.close()
    }

  /** JDBC referential-action codes → the reference's ReferentialAction
    * names (models.rs:123-130). Unknown/engine-default maps to
    * "no_action" — the SQL default.
    */
  private def refAction(code: Short): String = code match {
    case java.sql.DatabaseMetaData.importedKeyCascade => "cascade"
    case java.sql.DatabaseMetaData.importedKeyRestrict => "restrict"
    case java.sql.DatabaseMetaData.importedKeySetNull => "set_null"
    case java.sql.DatabaseMetaData.importedKeySetDefault => "set_default"
    case _ => "no_action"
  }

  /** Walks `tableNames` — the survey target set (explicit OR
    * discovered), so auto-discovered surveys carry their engine FKs too.
    * UPDATE_RULE/DELETE_RULE ride along as referential actions.
    */
  def collectedForeignKeys: Seq[FkEdge] = withConnection { c =>
    val md = c.getMetaData
    tableNames.flatMap { t =>
      val rs = md.getImportedKeys(null, null, foldCase(md, t))
      val buf = Seq.newBuilder[FkEdge]
      while (rs.next())
        buf += FkEdge(asGiven(rs.getString("FKTABLE_NAME")),
          rs.getString("FKCOLUMN_NAME"),
          asGiven(rs.getString("PKTABLE_NAME")),
          rs.getString("PKCOLUMN_NAME"),
          coverage = 1.0, likely = true, provenance = "collected",
          onUpdate = refAction(rs.getShort("UPDATE_RULE")),
          onDelete = refAction(rs.getShort("DELETE_RULE")))
      rs.close()
      buf.result()
    }.distinct.sortBy(f => (f.childTable, f.childColumn))
  }

  /** Stored routines through the engine-neutral JDBC catalog API
    * (reference models.rs:187-214 Procedure/Parameter, serialized per
    * database by every live-DB adapter): `getProcedures` +
    * `getFunctions` for the inventory, `get*Columns` for typed
    * parameter lists (IN/OUT/INOUT modes, RETURN markers). System
    * schemas are excluded the same way table discovery excludes them.
    */
  override def collectedRoutines: Seq[RoutineInfo] = withConnection { c =>
    val md = c.getMetaData
    def systemSchema(s: String): Boolean = {
      val u = Option(s).getOrElse("").toUpperCase
      u.startsWith("SYS") || u == "INFORMATION_SCHEMA" || u == "SQLJ"
    }
    def params(rs: java.sql.ResultSet, modeCol: String,
        modes: Int => String): Seq[RoutineParam] = {
      val buf = Seq.newBuilder[RoutineParam]
      while (rs.next()) {
        val n = Option(rs.getString("COLUMN_NAME")).getOrElse("")
        buf += RoutineParam(n, Option(rs.getString("TYPE_NAME")).getOrElse(""),
          modes(rs.getInt(modeCol)))
      }
      rs.close()
      buf.result()
    }
    val procModes: Int => String = {
      case java.sql.DatabaseMetaData.procedureColumnIn => "in"
      case java.sql.DatabaseMetaData.procedureColumnOut => "out"
      case java.sql.DatabaseMetaData.procedureColumnInOut => "inout"
      case java.sql.DatabaseMetaData.procedureColumnReturn => "return"
      case _ => "unknown"
    }
    val funcModes: Int => String = {
      case java.sql.DatabaseMetaData.functionColumnIn => "in"
      case java.sql.DatabaseMetaData.functionColumnOut => "out"
      case java.sql.DatabaseMetaData.functionColumnInOut => "inout"
      case java.sql.DatabaseMetaData.functionReturn => "return"
      case _ => "unknown"
    }
    val procs = {
      val rs = md.getProcedures(null, null, "%")
      val names = Seq.newBuilder[(String, String)]
      while (rs.next()) {
        val schema = rs.getString("PROCEDURE_SCHEM")
        if (!systemSchema(schema))
          names += ((schema, rs.getString("PROCEDURE_NAME")))
      }
      rs.close()
      names.result().map { case (schema, n) =>
        RoutineInfo(n, "procedure",
          params(md.getProcedureColumns(null, schema, n, "%"),
            "COLUMN_TYPE", procModes))
      }
    }
    val funcs = {
      val rs = md.getFunctions(null, null, "%")
      val names = Seq.newBuilder[(String, String)]
      while (rs.next()) {
        val schema = rs.getString("FUNCTION_SCHEM")
        if (!systemSchema(schema))
          names += ((schema, rs.getString("FUNCTION_NAME")))
      }
      rs.close()
      names.result().map { case (schema, n) =>
        val all = params(md.getFunctionColumns(null, schema, n, "%"),
          "COLUMN_TYPE", funcModes)
        val (ret, args) = all.partition(_.mode == "return")
        RoutineInfo(n, "function", args,
          returns = ret.headOption.map(_.dataType).getOrElse(""))
      }
    }
    (procs ++ funcs).sortBy(r => (r.name, r.routineType))
  }

  /** Engine custom types via `getUDTs` (reference models.rs:243-259
    * CustomType): distinct/struct/java_object type names with their
    * backing class.
    */
  override def collectedCustomTypes: Seq[CustomTypeInfo] = withConnection { c =>
    val rs = c.getMetaData.getUDTs(null, null, "%", null)
    val buf = Seq.newBuilder[CustomTypeInfo]
    while (rs.next()) {
      val schema = Option(rs.getString("TYPE_SCHEM")).getOrElse("")
      val kind = rs.getInt("DATA_TYPE") match {
        case java.sql.Types.DISTINCT => "distinct"
        case java.sql.Types.STRUCT => "struct"
        case _ => "java_object"
      }
      if (!schema.toUpperCase.startsWith("SYS"))
        buf += CustomTypeInfo(rs.getString("TYPE_NAME"), kind,
          Option(rs.getString("CLASS_NAME")).getOrElse(""))
    }
    rs.close()
    buf.result().sortBy(_.name)
  }
}

/** Session-catalog source: surveys tables registered in Spark's own
  * catalog (saveAsTable materializations — e.g. Lake.writeBucketed's
  * bucketed layouts). Physical-layout metadata (partition columns,
  * bucket/sort spec) is COLLECTED from the catalog — the lake analogue
  * of the reference's index metadata (models.rs:133-155: an index IS the
  * engine's physical access path; a lake's access paths are partitions
  * and buckets).
  */
class CatalogSource(spark: SparkSession, tables: Seq[String])
    extends TableSource with MetadataSource {
  import Collector.{CollectedTableMeta, LayoutInfo}

  def name: String = s"spark-catalog:${spark.sessionState.catalog.getCurrentDatabase}"
  def tableNames: Seq[String] = tables
  def load(table: String): DataFrame = spark.table(table)
  override def engine: (String, String) = ("spark", spark.version)

  def tableMetadata(table: String): CollectedTableMeta = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val layout = LayoutInfo(
      partitionColumns = meta.partitionColumnNames,
      bucketColumns = meta.bucketSpec.map(_.bucketColumnNames).getOrElse(Nil),
      numBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(0),
      sortColumns = meta.bucketSpec.map(_.sortColumnNames).getOrElse(Nil))
    CollectedTableMeta(Nil, Nil,
      layout = if (layout == LayoutInfo()) None else Some(layout))
  }

  def collectedForeignKeys: Seq[Collector.FkEdge] = Nil
}

object Collector {

  /** v1.1 added: FK referential actions, view definitions, stored
    * routines, custom types. v1.2 adds: trigger metadata, collected
    * CHECK constraints, collection-run metadata (duration + access
    * level). v1.4 adds: per-column collect-time sensitive-data flags
    * (optional field — "" when clean). Earlier artifacts still load
    * (ArtifactLoad defaults every post-1.0 field) and validate.
    */
  val currentFormatVersion = "1.4"
  val supportedFormatVersions: Set[String] = Set("1.0", "1.1", "1.2", "1.3", "1.4")

  /** Connection-test result — the reference collect CLI's `test`
    * command (docs/src/cli-reference.md "Test database connection
    * without collecting schema"): probe outcome, engine handshake, and
    * the catalog size, with failure degraded to ok=false + the error
    * (the CLI exit-code contract, never a throw).
    */
  case class ConnectionTest(ok: Boolean, sourceName: String,
      engine: String, version: String, nTables: Int, error: String = "")

  /** Probe a source WITHOUT collecting: engine handshake + table
    * enumeration + one schema read (parquet resolves footers only — no
    * data rows move; JDBC opens the real connection). */
  def testConnection(source: TableSource): ConnectionTest =
    try {
      val (eng, ver) = source.engine
      val ts = source.tableNames
      if (ts.nonEmpty) source.load(ts.head).schema
      ConnectionTest(ok = true, source.name, eng, ver, ts.size)
    } catch {
      case e: Throwable =>
        ConnectionTest(ok = false, source.name, "", "", 0,
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }

  /** Supported source types + connection formats — the collect CLI's
    * `list` command. Non-embedded network engines remain declared
    * substitutions (the dialect seam is JdbcSource; Derby proves it
    * end-to-end in this sandbox). */
  val supportedSources: Seq[(String, String)] = Seq(
    ("parquet-lake", "<dir> containing <table>.parquet (ParquetSource)"),
    ("jdbc-derby", "jdbc:derby:<path>;create=true — embedded, collected end-to-end"),
    ("jdbc-generic", "any JDBC URL on the driver classpath (JdbcSource; dialect-neutral catalog reads + per-dialect URL masking)"),
    ("documents", "directory of JSONL/CSV/text files (DocumentSource)"))

  /** Sampling operational guards (reference config/sampling.rs:10
    * MAX_SAMPLE_SIZE, throttle_ms, query_timeout_secs): the requested
    * sample size is clamped to [1, maxSampleSize] so an unbounded LIMIT
    * can never OOM the collector, each per-table sample query runs
    * under a wall-clock timeout that degrades the table to a `failed`
    * SampleStatus instead of hanging the survey, and an optional
    * inter-table throttle keeps the survey polite against a production
    * source — the tool's one abuse vector.
    */
  val maxSampleSize = 10000

  /** Column description at reference models.rs:65-78 depth: beyond
    * name/type/nullability, the engine-declared auto-increment flag
    * (SERIAL / AUTO_INCREMENT / IDENTITY), the catalog-reported default
    * expression ("" = none), and the 1-based ordinal position (0 = not
    * collected; lake sources fill it from schema order). Collected via
    * the engine-neutral JDBC column metadata (IS_AUTOINCREMENT /
    * COLUMN_DEF / ORDINAL_POSITION) — the same catalog row the NOT NULL
    * collection already reads.
    */
  case class ColumnInfo(name: String, dataType: String, nullable: Boolean,
      autoIncrement: Boolean = false, defaultValue: String = "",
      ordinal: Int = 0, sensitive: String = "")

  /** Collect-time sensitive-column detection (reference
    * config/sampling.rs:12-56 SensitivePattern + warn_sensitive): the
    * survey warns about credential/PII-looking column NAMES while it
    * still has the catalog open, so the signal rides the artifact into
    * every downstream renderer — not a postprocess the user has to
    * remember to run (Redactor stays the value-level postprocess).
    * Patterns are (regex, description); invalid regexes are skipped
    * with a warning rather than failing the survey.
    */
  val defaultSensitivePatterns: Seq[(String, String)] = Seq(
    "(?i)(password|passwd|pwd|secret|token|api_key)" -> "credential field",
    "(?i)(email|mail)" -> "email field",
    "(?i)(ssn|social_security)" -> "social security number field",
    "(?i)(credit_card|card_number|ccnum)" -> "payment card field",
    "(?i)(phone|mobile)" -> "phone number field",
    "(?i)(acctbal|account_balance|salary|income)" -> "financial field")

  /** First matching description for a column name, compiled-safe:
    * a malformed pattern contributes a warning, never an abort. */
  def sensitiveMatch(colName: String,
      patterns: Seq[(String, String)] = defaultSensitivePatterns)
      : Option[String] =
    patterns.collectFirst {
      case (p, d) if scala.util.Try(p.r.findFirstIn(colName))
        .toOption.flatten.isDefined => d
    }

  /** Engine-collected per-column catalog details, keyed back into
    * ColumnInfo by name during collect.
    */
  case class ColumnDetail(name: String, autoIncrement: Boolean,
      defaultValue: String, ordinal: Int)

  /** Engine index metadata (reference models.rs:133-155 Index /
    * IndexColumn): name, ordered column list, uniqueness.
    */
  case class IndexInfo(name: String, columns: Seq[String], unique: Boolean)

  /** Table constraint (reference models.rs:156-175 Constraint): kind is
    * one of not_null | unique | range | enum; `columns` the constrained
    * columns; `detail` a rendering-ready payload (range bounds, enum
    * domain). Provenance distinguishes engine-collected constraints from
    * data-inferred candidates (ConstraintInference).
    */
  case class ConstraintInfo(name: String, kind: String,
      columns: Seq[String], detail: String = "",
      provenance: String = "inferred")

  /** Stored-routine parameter (reference models.rs:205-214 Parameter):
    * mode is in | out | inout | return | unknown.
    */
  case class RoutineParam(name: String, dataType: String, mode: String)

  /** Stored routine (reference models.rs:187-204 Procedure): a
    * procedure or function with its typed parameter list; `returns` is
    * the function return type ("" for procedures).
    */
  case class RoutineInfo(name: String, routineType: String,
      parameters: Seq[RoutineParam] = Nil, returns: String = "")

  /** Engine custom/user-defined type (reference models.rs:243-259
    * CustomType): kind is distinct | struct | java_object; className
    * the backing implementation class where the engine reports one.
    */
  case class CustomTypeInfo(name: String, kind: String,
      className: String = "")

  /** Engine DML trigger metadata (reference models.rs:216-241 Trigger /
    * TriggerEvent / TriggerTiming, serialized per table): event is
    * insert | update | delete, timing before | after | instead_of,
    * orientation row | statement ("" when the engine doesn't say),
    * definition the triggered action SQL. Triggers are COLLECTED schema
    * metadata — executing them stays out of scope for a batch lake
    * engine, exactly like view definitions are collected but never run.
    */
  case class TriggerInfo(name: String, event: String, timing: String,
      orientation: String = "", definition: String = "")

  /** Physical-layout metadata — the lake analogue of index metadata:
    * partition columns (directory pruning) and bucket/sort spec
    * (co-located joins), as recorded in the catalog that materialized
    * the table.
    */
  case class LayoutInfo(partitionColumns: Seq[String] = Nil,
      bucketColumns: Seq[String] = Nil, numBuckets: Int = 0,
      sortColumns: Seq[String] = Nil)

  /** Engine identity block (reference models.rs:272-326 DatabaseInfo:
    * engine/version/collection metadata serialized with the schema).
    * v1.2 adds the reference's collection-run metadata
    * (models.rs:261-310): collectionDurationMs (wall-clock of the
    * collect() run, -1 = not recorded) and accessLevel — full when
    * every table sampled successfully, limited when any degraded,
    * schema_only under SamplingStrategy.NoSample ("" = not recorded).
    */
  /** Multi-database run counts (reference models.rs:327-337
    * CollectionMode::MultiDatabase{discovered, collected, failed}): how
    * many databases the server enumeration found, how many collected
    * cleanly, how many failed. Rides ServerInfo the way the reference's
    * collection_mode rides its ServerInfo; None = a single-database run
    * (CollectionMode::SingleDatabase carries no counts).
    */
  case class MultiDbCounts(discovered: Int, collected: Int, failed: Int)

  case class ServerInfo(engine: String, version: String,
      collectedAt: String, tableCount: Int,
      collectionDurationMs: Long = -1L, accessLevel: String = "",
      collectionMode: Option[MultiDbCounts] = None)

  /** Collected (engine-catalog) per-table metadata from a
    * MetadataSource; any field may be empty when the engine doesn't
    * expose that surface.
    */
  case class CollectedTableMeta(primaryKey: Seq[String],
      indexes: Seq[IndexInfo], notNull: Seq[String] = Nil,
      layout: Option[LayoutInfo] = None,
      tableType: String = "table",
      viewDefinition: String = "",
      constraints: Seq[ConstraintInfo] = Nil,
      triggers: Seq[TriggerInfo] = Nil,
      columnDetails: Seq[ColumnDetail] = Nil,
      notes: Seq[String] = Nil)

  /** Per-table sampling outcome (reference SampleStatus,
    * models.rs:388-429): `success` at the requested limit, `partial`
    * after halved-limit retries, `failed` when every retry threw,
    * `skipped` under SamplingStrategy.NoSample.
    */
  case class TableInfo(name: String, columns: Seq[ColumnInfo], rowCount: Long,
      sampleHeader: Seq[String], sampleRows: Seq[Seq[String]],
      sampleStatus: String = "success", warnings: Seq[String] = Nil,
      pkCandidates: Seq[String] = Nil,
      keyProvenance: String = "inferred",
      samplingStrategy: String = "most_recent",
      samplingKey: String = "",
      indexes: Seq[IndexInfo] = Nil,
      constraints: Seq[ConstraintInfo] = Nil,
      layout: Option[LayoutInfo] = None,
      tableType: String = "table",
      viewDefinition: String = "",
      triggers: Seq[TriggerInfo] = Nil)

  /** Relationship edge: inferred (KeyInference inclusion dependency)
    * or collected from an engine catalog (provenance = "collected",
    * coverage pinned to 1.0 — the engine enforces it). Referential
    * actions (reference models.rs:123-130 ReferentialAction) are
    * collected from UPDATE_RULE/DELETE_RULE; "" = not collected
    * (inferred edges have no engine-declared behavior).
    */
  case class FkEdge(childTable: String, childColumn: String,
      parentTable: String, parentColumn: String, coverage: Double,
      likely: Boolean, provenance: String = "inferred",
      onUpdate: String = "", onDelete: String = "")

  case class Artifact(formatVersion: String, source: String,
      tables: Seq[TableInfo], foreignKeys: Seq[FkEdge] = Nil,
      server: Option[ServerInfo] = None,
      warnings: Seq[String] = Nil,
      routines: Seq[RoutineInfo] = Nil,
      customTypes: Seq[CustomTypeInfo] = Nil)

  /** Sampling strategy selection (reference models.rs:349-381
    * SamplingStrategy / OrderingStrategy): which rows each table's
    * sample contains, recorded per table in the artifact.
    */
  sealed abstract class SamplingStrategy(val strategyName: String)
  object SamplingStrategy {
    /** Order by the sampling key descending — latest-first. */
    case object MostRecent extends SamplingStrategy("most_recent")
    /** Deterministic random: order by md5 of the sampling key — the
      * reproducible, distributed-friendly analogue of Random{limit}.
      */
    case object RandomDet extends SamplingStrategy("random")
    /** Schema/metadata-only collection: no sample rows at all. */
    case object NoSample extends SamplingStrategy("none")
  }

  /** Engine-neutral type names shared with the DuckDB oracle mapping. */
  def normalizeType(dt: DataType): String = dt match {
    case LongType => "int64"
    case IntegerType => "int32"
    case DoubleType => "float64"
    case FloatType => "float32"
    case StringType => "string"
    case BooleanType => "bool"
    case BinaryType => "binary"
    case _: TimestampType => "timestamp"
    case _: TimestampNTZType => "timestamp"
    case ArrayType(e, _) => s"array<${normalizeType(e)}>"
    case other => other.simpleString
  }

  /** Wall-clock guard around one sample query (reference
    * query_timeout_secs): the body runs on a daemon thread whose Spark
    * jobs carry a unique job tag; on timeout those jobs are cancelled
    * (their tasks interrupted, so they stop holding executor slots), the
    * thread is interrupted, and a plain RuntimeException surfaces, which
    * sampleWithRetry's degrade path turns into a `failed` SampleStatus
    * with warnings — a hung source never hangs the survey. (The
    * identical timeout message at the halved retry limit trips the
    * deterministic-failure bailout, so a slow table costs at most two
    * timeout windows.) A tag, not a job group, marks the jobs: a job
    * group would overwrite the caller's. <= 0 disables the guard.
    */
  def withQueryTimeout[T](sc: SparkContext, secs: Long)(body: => T): T =
    if (secs <= 0) body
    else {
      val tag = s"graft-sample-${java.util.UUID.randomUUID()}"
      val task = new java.util.concurrent.FutureTask(
        new java.util.concurrent.Callable[T] {
          def call(): T = {
            sc.addJobTag(tag)
            sc.setInterruptOnCancel(true)
            body
          }
        })
      val th = new Thread(task, "graft-sample-timeout")
      th.setDaemon(true)
      th.start()
      try task.get(secs, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          task.cancel(true)
          sc.cancelJobsWithTag(tag)
          throw new RuntimeException(s"sample query exceeded ${secs}s timeout")
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).collect { case ex: Exception => ex }
            .getOrElse(e)
      }
    }

  /** Halved-limit retry policy around a sampling closure (reference
    * `dbsurveyor-collect/src/sampling.rs`: on failure, halve the limit
    * and try again; record the outcome + warnings instead of aborting).
    * A repeat of the SAME failure (class + message) on the halved limit
    * is treated as deterministic — corrupt data fails identically at
    * every limit, so further halved-limit scans would only burn cluster
    * time — and the retry loop bails out after that second attempt.
    * Returns (rows, status, warnings).
    */
  def sampleWithRetry(limit: Int, doSample: Int => Seq[Seq[String]])
      : (Seq[Seq[String]], String, Seq[String]) = {
    // the ROOT cause identifies the failure: Spark wraps task failures
    // in SparkException layers whose messages embed stage/task ids that
    // change between attempts, so only the innermost (class, message)
    // is a stable deterministic-failure signature
    def rootSig(e: Throwable): String = {
      var c: Throwable = e
      while (c.getCause != null && (c.getCause ne c)) c = c.getCause
      s"${c.getClass.getSimpleName}: ${c.getMessage}"
    }
    val warnings = Seq.newBuilder[String]
    var lastErr: String = null
    var l = limit
    while (l >= 1) {
      try {
        val rows = doSample(l)
        return (rows, if (l == limit) "success" else "partial", warnings.result())
      } catch {
        case e: Exception =>
          val sig = rootSig(e)
          warnings += s"sample at limit $l failed: $sig"
          if (sig == lastErr) {
            warnings += "same failure at halved limit: deterministic, giving up"
            return (Nil, "failed", warnings.result())
          }
          lastErr = sig
          l = l / 2
      }
    }
    (Nil, "failed", warnings.result())
  }

  /** `f` over `items` on a fixed pool of `width` driver threads, results
    * in input order. The threads are created by the calling thread, so
    * they inherit its Spark local properties (job group, job tags); the
    * pool is shut down before returning. A body's exception surfaces as
    * itself once every body has finished.
    */
  private def inOrder[A, B](items: Seq[A], width: Int)(f: A => B): Seq[B] = {
    import scala.jdk.CollectionConverters._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(width, 1))
    try pool.invokeAll(items.map(i =>
        new java.util.concurrent.Callable[B] { def call(): B = f(i) }).asJava)
      .asScala.toSeq.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    finally pool.shutdownNow()
  }

  /** The row count an observed sample job delivered, or None when it has
    * not arrived within [[ObservedCountWaitSecs]]. Spark delivers observed
    * metrics through a listener after the job ends, and delivers nothing
    * when the optimizer removed the observation from the plan; the bounded
    * wait keeps that case from hanging the survey (the caller counts
    * instead).
    */
  private def observedCount(obs: Observation): Option[Long] =
    try Some(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(ObservedCountWaitSecs, "s")).getLong(0))
    catch { case _: java.util.concurrent.TimeoutException => None }

  private val ObservedCountWaitSecs = 10L

  /** Collect the full artifact: schema, row counts, and a deterministic
    * sample per table under the chosen `strategy` (MostRecent: sampling
    * key descending; RandomDet: md5-of-key order; NoSample: metadata
    * only). One job per table: the bounded top-k read that takes the
    * sample also counts the table's rows (an observed `count(1)`; the
    * top-k reads every row, so the count is exact), with no full
    * materialization. A separate count job runs only when that count is
    * missing: under NoSample, after a failed or timed-out sample, or when
    * the observation was not delivered. Tables are collected concurrently
    * on up to `defaultParallelism` driver threads and the artifact keeps
    * `source.tableNames` order; `throttleMs > 0` collects one table at a
    * time, pausing before each sample. A failing table degrades
    * (halved-limit retries, then a `failed` status with warnings)
    * instead of aborting the artifact; an unloadable table is recorded
    * as a schema-less `failed` entry. With `withKeys`, PK candidates and
    * inclusion-dependency FK edges (KeyInference) are inferred from the
    * data and embedded; with `withConstraints`, data-derived
    * not-null/unique/range/enum constraint candidates
    * (ConstraintInference) are embedded too. When
    * the source is a MetadataSource (JDBC, session catalog), engine-
    * collected keys/indexes/layout take precedence over inference and
    * the table is stamped keyProvenance = "collected" — the reference's
    * "read the catalog, don't guess" identity
    * (postgres/schema_collection.rs).
    */
  def collect(source: TableSource, sampleSize: Int = 5,
      withKeys: Boolean = false,
      strategy: SamplingStrategy = SamplingStrategy.MostRecent,
      withConstraints: Boolean = false,
      collectedAt: String = java.time.Instant.now().toString,
      warnSensitive: Boolean = true,
      sensitivePatterns: Seq[(String, String)] = defaultSensitivePatterns,
      queryTimeoutSecs: Long = 30L,
      throttleMs: Long = 0L): Artifact = {
    val startNs = System.nanoTime()
    val artifactWarnings = Seq.newBuilder[String]
    // MAX_SAMPLE_SIZE clamp (reference sampling.rs:10 + with_sample_size):
    // out-of-range requests are clamped, recorded, and the survey goes on
    val effSample = math.min(math.max(sampleSize, 1), maxSampleSize)
    if (effSample != sampleSize)
      artifactWarnings += s"sample_size $sampleSize out of [1, $maxSampleSize]; clamped to $effSample"
    // malformed sensitive patterns are dropped once, with a warning —
    // the reference's compile_sensitive_patterns degrade path
    val livePatterns =
      if (!warnSensitive) Nil
      else sensitivePatterns.filter { case (p, _) =>
        scala.util.Try(p.r).isSuccess || {
          artifactWarnings += s"skipping invalid sensitive pattern '$p'"
          false
        }
      }
    // tables are surveyed concurrently: each one's load (a schema job on
    // a table's first read) and sample are small jobs that are mostly
    // scheduler latency, so overlapping tables fills the idle slots. A
    // throttled survey keeps the reference's politeness contract: one
    // table at a time, with the pause between tables.
    val names = source.tableNames
    val width =
      if (throttleMs > 0) 1
      else math.min(names.size, SparkSession.active.sparkContext.defaultParallelism)
    val loaded: Seq[(String, Option[DataFrame], Seq[String])] =
      inOrder(names, width) { t =>
        try { val df = source.load(t); (t, Some(df), Nil) }
        catch { case e: Exception =>
          (t, None, Seq(s"load failed: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      }
    val goodTables = loaded.collect { case (t, Some(df), _) => t -> df }
    // engine-collected metadata first (guarded: a metadata read that
    // throws degrades that table to the inference path with a warning)
    val collectedMeta: Map[String, (CollectedTableMeta, Seq[String])] = source match {
      case m: MetadataSource => goodTables.map { case (t, _) =>
        // per-surface degrade notes (e.g. "primary keys not collected:
        // ...") surface as this table's warnings; the catch remains the
        // catastrophic-failure (connection-level) degrade
        try { val meta = m.tableMetadata(t); t -> (meta, meta.notes) }
        catch { case e: Exception =>
          t -> (CollectedTableMeta(Nil, Nil),
            Seq(s"metadata read failed: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      }.toMap
      case _ => Map.empty
    }
    val pkMap: Map[String, Seq[String]] =
      if (withKeys && goodTables.nonEmpty)
        KeyInference.primaryKeysFor(goodTables)
          .filter(col("is_pk_candidate"))
          .collect().toSeq
          .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")))
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      else Map.empty
    // a failing engine metadata read (foreign keys, routines, custom
    // types, engine identity) degrades to `default`, but is RECORDED —
    // silent metadata loss would misrepresent the survey
    def degraded[T](what: String, default: T)(read: => T): T =
      try read
      catch { case e: Exception =>
        artifactWarnings +=
          s"$what read failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
        default
      }
    val (collectedFks, routines, customTypes) = source match {
      case m: MetadataSource => (
        degraded("foreign-key metadata", Seq.empty[FkEdge])(m.collectedForeignKeys),
        degraded("routine metadata", Seq.empty[RoutineInfo])(m.collectedRoutines),
        degraded("custom-type metadata", Seq.empty[CustomTypeInfo])(m.collectedCustomTypes))
      case _ => (Seq.empty[FkEdge], Seq.empty[RoutineInfo], Seq.empty[CustomTypeInfo])
    }
    val inferredFks: Seq[FkEdge] =
      if (withKeys && goodTables.nonEmpty) {
        val seen = collectedFks.map(f =>
          (f.childTable, f.childColumn, f.parentTable, f.parentColumn)).toSet
        KeyInference.foreignKeysFor(goodTables).collect().toSeq.map(r =>
          FkEdge(r.getAs[String]("child_table"), r.getAs[String]("child_column"),
            r.getAs[String]("parent_table"), r.getAs[String]("parent_column"),
            r.getAs[Double]("coverage"), r.getAs[Boolean]("is_likely_fk")))
          .filterNot(f => seen((f.childTable, f.childColumn, f.parentTable, f.parentColumn)))
      } else Nil
    val constraintMap: Map[String, Seq[ConstraintInfo]] =
      if (withConstraints && goodTables.nonEmpty)
        ConstraintInference.constraintsFor(goodTables)
      else Map.empty
    val tables = inOrder(loaded, width) {
      case (t, None, warns) =>
        TableInfo(t, Nil, -1L, Nil, Nil, sampleStatus = "failed", warnings = warns,
          samplingStrategy = strategy.strategyName)
      case (t, Some(df), _) =>
        // a table can load (parquet footer reads fine) yet still fail at
        // scan time — corrupt data pages, a lost partition. Every Spark
        // ACTION here is therefore guarded: the sample via the retry
        // policy, the count directly; either failing degrades this
        // table's entry instead of aborting the whole artifact.
        try {
          val (meta, metaWarns) =
            collectedMeta.getOrElse(t, (CollectedTableMeta(Nil, Nil), Nil))
          val notNull = meta.notNull.toSet
          val detailByName = meta.columnDetails.map(d => d.name -> d).toMap
          val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            val d = detailByName.get(f.name)
            ColumnInfo(f.name, normalizeType(f.dataType),
              f.nullable && !notNull(f.name),
              autoIncrement = d.exists(_.autoIncrement),
              defaultValue = d.map(_.defaultValue).getOrElse(""),
              // schema position stands in when the engine didn't report one
              ordinal = d.map(_.ordinal).filter(_ > 0).getOrElse(i + 1),
              // collect-time sensitive-name flag (warn_sensitive): the
              // warning is raised HERE, while the catalog is open — not
              // a postprocess the user has to remember
              sensitive = sensitiveMatch(f.name, livePatterns).getOrElse(""))
          }
          val sensWarns = cols.filter(_.sensitive.nonEmpty).map(c =>
            s"sensitive: column '${c.name}' may contain a ${c.sensitive}")
          // sampling-key ladder (reference sampling.rs strategy
          // preference): collected primary key > inferred primary key >
          // first timestamp column (recency) > first column (rowid
          // stand-in).
          val key = meta.primaryKey.headOption
            .orElse(pkMap.get(t).flatMap(_.headOption))
            .orElse(df.schema.fields.collectFirst {
              case f if f.dataType.isInstanceOf[TimestampType] ||
                f.dataType.isInstanceOf[TimestampNTZType] => f.name
            })
            .getOrElse(df.schema.fields.head.name)
          val ordering = strategy match {
            case SamplingStrategy.MostRecent => col(key).desc
            case _ => md5(col(key).cast(StringType)).asc
          }
          // inter-table throttle (reference throttle_ms): politeness
          // against a production source; 0 = off (the default)
          if (throttleMs > 0) Thread.sleep(throttleMs)
          // the row count rides on the sample's job: each attempt
          // observes count(1) under its top-k, which reads every row.
          // The attempt that returns is the last one to set `observed`.
          val observed = new java.util.concurrent.atomic.AtomicReference[Observation]()
          val (sample, status, warns) = strategy match {
            case SamplingStrategy.NoSample => (Nil, "skipped", Nil)
            case _ => sampleWithRetry(effSample, l =>
              withQueryTimeout(df.sparkSession.sparkContext, queryTimeoutSecs) {
                val obs = Observation()
                observed.set(obs)
                df.observe(obs, count(lit(1)).as("n")).orderBy(ordering).limit(l)
                  .collect().toSeq.map(r =>
                    r.toSeq.map(v => if (v == null) "NULL" else v.toString))
              })
          }
          val sampledCount =
            if (status == "failed") None else Option(observed.get).flatMap(observedCount)
          val (cnt, status2, warns2) =
            try (sampledCount.getOrElse(df.count()), status, warns)
            catch { case e: Exception =>
              (-1L, "failed",
                warns :+ s"count failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          // a failed/skipped entry carries no sample rows (mirrors the
          // load-failure path and keeps validate()'s status invariants)
          val (hdr, rows2) =
            if (status2 == "failed" || status2 == "skipped") (Nil, Nil)
            else (df.schema.fieldNames.toSeq, sample)
          val pk = if (meta.primaryKey.nonEmpty) meta.primaryKey
            else pkMap.getOrElse(t, Nil)
          TableInfo(t, cols, cnt, hdr, rows2,
            sampleStatus = status2, warnings = sensWarns ++ metaWarns ++ warns2,
            pkCandidates = pk,
            keyProvenance = if (meta.primaryKey.nonEmpty) "collected" else "inferred",
            samplingStrategy = strategy.strategyName,
            samplingKey = if (strategy == SamplingStrategy.NoSample) "" else key,
            indexes = meta.indexes,
            constraints = meta.constraints ++ constraintMap.getOrElse(t, Nil),
            layout = meta.layout,
            tableType = meta.tableType,
            viewDefinition = meta.viewDefinition,
            triggers = meta.triggers)
        } catch {
          case e: Exception =>
            TableInfo(t, Nil, -1L, Nil, Nil, sampleStatus = "failed",
              warnings = Seq(s"collection failed: ${e.getClass.getSimpleName}: ${e.getMessage}"),
              samplingStrategy = strategy.strategyName)
        }
    }
    val (engineName, engineVersion) =
      degraded("engine identity", ("unknown", "unknown"))(source.engine)
    // collection-run metadata (reference models.rs:261-310): wall-clock
    // duration + the access-level classification the reference derives
    // from what the run actually managed to read
    val accessLevel =
      if (strategy == SamplingStrategy.NoSample) "schema_only"
      else if (tables.forall(_.sampleStatus == "success")) "full"
      else "limited"
    val durationMs = (System.nanoTime() - startNs) / 1000000L
    Artifact(currentFormatVersion, source.name, tables,
      collectedFks ++ inferredFks,
      server = Some(ServerInfo(engineName, engineVersion, collectedAt,
        tables.size, collectionDurationMs = durationMs,
        accessLevel = accessLevel)),
      warnings = artifactWarnings.result(),
      routines = routines, customTypes = customTypes)
  }

  /** Multi-database survey (adapters/postgres/multi_database.rs
    * analogue): one artifact per enumerated database, collected with the
    * same per-table machinery. `counts` is the run's CollectionMode
    * triple; `failures` records (source, error) for every database whose
    * collection threw — one broken database degrades the run, never
    * aborts it (the reference counts failures and keeps going).
    */
  case class MultiArtifact(formatVersion: String, databases: Seq[Artifact],
      counts: Option[MultiDbCounts] = None,
      failures: Seq[(String, String)] = Nil)

  def collectAll(sources: Seq[TableSource], sampleSize: Int = 5,
      withKeys: Boolean = false): MultiArtifact = {
    val attempts = sources.map { s =>
      s.name -> scala.util.Try(collect(s, sampleSize, withKeys))
    }
    val ok = attempts.collect { case (_, scala.util.Success(a)) => a }
    val failures = attempts.collect {
      case (n, scala.util.Failure(e)) =>
        (n, Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }
    val counts = MultiDbCounts(sources.size, ok.size, failures.size)
    // every per-database artifact records the run it was collected under
    val stamped = ok.map(a => a.copy(server =
      a.server.map(_.copy(collectionMode = Some(counts)))))
    MultiArtifact(currentFormatVersion, stamped, Some(counts), failures)
  }

  /** Enumerate parquet "databases" under a root path — each
    * subdirectory holding at least one `*.parquet` entry is one
    * database, the lake analogue of a server's database listing. Uses
    * the Hadoop FileSystem API so the same code enumerates local, HDFS
    * or object-store roots.
    */
  def enumerateLakes(spark: SparkSession, root: String): Seq[ParquetSource] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => fs.listStatus(p).exists(f => f.getPath.getName.endsWith(".parquet")))
      // full URI (p.toString), not p.toUri.getPath: stripping the
      // scheme/authority would break hdfs:// and s3a:// roots
      .map(p => new ParquetSource(spark, p.toString))
      .sortBy(_.name)
  }

  /** Run-level outcome classification for a multi-database collection
    * (reference `dbsurveyor-collect/src/outcome.rs` CollectionOutcome):
    * aggregates per-table sample statuses and warnings into one outcome
    * with the reference's process exit codes — the contract scripts and
    * CI hook into.
    */
  sealed abstract class CollectionOutcome(val exitCode: Int)
  object CollectionOutcome {
    case object Success extends CollectionOutcome(0)
    case class TotalFailure(error: String) extends CollectionOutcome(1)
    case object PartialWithoutSamples extends CollectionOutcome(2)
    case object PartialWithData extends CollectionOutcome(3)
    case object PartialWithValidationWarnings extends CollectionOutcome(4)
    case class Canceled(reason: String) extends CollectionOutcome(5)

    /** Mirrors outcome.rs from_results precedence: no schemas >
      * missing samples > partial samples > warnings > success.
      */
    def fromResults(databases: Seq[Artifact]): CollectionOutcome = {
      if (databases.isEmpty) TotalFailure("No schemas were produced")
      else if (databases.exists(_.tables.exists(_.sampleStatus == "failed")))
        PartialWithoutSamples
      else if (databases.exists(_.tables.exists(_.sampleStatus == "partial")))
        PartialWithData
      else if (databases.exists(a =>
        a.warnings.nonEmpty ||
          // sensitive-data NOTICES are informational (the data is what
          // it is — the collection itself succeeded); they must not
          // downgrade the run outcome the way degradation warnings do
          a.tables.exists(_.warnings.exists(!_.startsWith("sensitive:"))) ||
          validate(a).nonEmpty))
        PartialWithValidationWarnings
      else Success
    }
  }

  /** FK-dependency LOAD ORDER over an artifact: the layer each table
    * occupies in the relationship DAG (parents-before-children), i.e.
    * the order a restore/bulk-load must create and populate tables so
    * every FK target exists first — the operational consumer of the
    * reference's relationship model (models.rs ForeignKey; its docs
    * render the graph, this makes it executable). Longest-path
    * layering via |tables| rounds of edge relaxation (metadata-sized
    * driver work, the catalog is never data-sized); a cycle simply
    * stops relaxing at the round cap, leaving cycle members at their
    * last stable layer — deterministic, and real engine catalogs are
    * DAGs outside deliberate self-references (which are skipped).
    */
  def loadOrder(a: Artifact): Seq[(String, Int)] = {
    val names = a.tables.map(_.name)
    val present = names.toSet
    val edges = a.foreignKeys
      .filter(f => f.likely && f.childTable != f.parentTable &&
        present(f.childTable) && present(f.parentTable))
      .map(f => (f.childTable, f.parentTable)).distinct
    val layer = scala.collection.mutable.Map(names.map(_ -> 0): _*)
    var changed = true
    var rounds = 0
    while (changed && rounds < names.size) {
      changed = false
      rounds += 1
      edges.foreach { case (child, parent) =>
        if (layer(child) < layer(parent) + 1) {
          layer(child) = layer(parent) + 1
          changed = true
        }
      }
    }
    names.map(n => n -> layer(n))
  }

  /** Reference's `validate` command, at the reference's depth
    * (dbsurveyor-core/src/validation.rs: identifier validation, type
    * checks, cross-references; dbsurveyor/src/output.rs:validate_schema):
    * structural consistency + identifier sanity + sample/schema agreement
    * + key cross-references over a collected artifact.
    */
  def validate(a: Artifact): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val validStatus = Set("success", "partial", "failed", "skipped")
    val validStrategy = Set("most_recent", "random", "none")
    val validProvenance = Set("inferred", "collected")
    def badIdent(s: String): Boolean =
      s.isEmpty || s.length > 255 || s.exists(c => c < ' ' || c == '\u007f')
    if (!supportedFormatVersions(a.formatVersion))
      errs += s"unsupported format version '${a.formatVersion}'"
    if (a.tables.isEmpty) errs += "artifact has no tables"
    a.server.foreach { s =>
      if (s.engine.trim.isEmpty) errs += "server info: empty engine name"
      if (s.tableCount != a.tables.size)
        errs += s"server info: table count ${s.tableCount} != ${a.tables.size} tables"
      if (!Set("", "full", "limited", "schema_only")(s.accessLevel))
        errs += s"server info: unknown access level '${s.accessLevel}'"
      if (s.collectionDurationMs < -1L)
        errs += s"server info: negative collection duration ${s.collectionDurationMs}"
    }
    a.tables.groupBy(_.name).collect { case (n, ts) if ts.size > 1 =>
      errs += s"duplicate table name '$n'" }
    a.tables.foreach { t =>
      val failed = t.sampleStatus == "failed"
      val noSample = failed || t.sampleStatus == "skipped"
      if (badIdent(t.name)) errs += s"invalid table identifier '${t.name}'"
      if (!validStatus(t.sampleStatus))
        errs += s"table ${t.name}: unknown sample status '${t.sampleStatus}'"
      if (!validStrategy(t.samplingStrategy))
        errs += s"table ${t.name}: unknown sampling strategy '${t.samplingStrategy}'"
      if (!validProvenance(t.keyProvenance))
        errs += s"table ${t.name}: unknown key provenance '${t.keyProvenance}'"
      if (!Set("table", "view")(t.tableType))
        errs += s"table ${t.name}: unknown table type '${t.tableType}'"
      if (t.viewDefinition.nonEmpty && t.tableType != "view")
        errs += s"table ${t.name}: view definition present on a non-view"
      if (noSample && t.sampleRows.nonEmpty)
        errs += s"table ${t.name}: ${t.sampleStatus} sample status but sample rows present"
      if (!failed) {
        if (t.columns.isEmpty) errs += s"table ${t.name} has no columns"
        if (t.rowCount < 0) errs += s"table ${t.name} has negative row count"
      }
      if (!noSample) {
        if (t.rowCount >= 0 && t.sampleRows.size > t.rowCount)
          errs += s"table ${t.name}: more sample rows than table rows"
        if (t.sampleHeader.size != t.columns.size)
          errs += s"table ${t.name}: sample header width != column count"
        if (t.sampleHeader.nonEmpty && t.sampleHeader != t.columns.map(_.name))
          errs += s"table ${t.name}: sample header disagrees with column names"
      }
      t.columns.groupBy(_.name).collect { case (c, cs) if cs.size > 1 =>
        errs += s"table ${t.name}: duplicate column '$c'" }
      t.columns.foreach { c =>
        if (badIdent(c.name)) errs += s"table ${t.name}: invalid column identifier '${c.name}'"
        if (c.dataType.trim.isEmpty) errs += s"table ${t.name}.${c.name}: empty data type"
      }
      t.sampleRows.foreach { r =>
        if (r.size != t.sampleHeader.size)
          errs += s"table ${t.name}: ragged sample row"
      }
      val colNames = t.columns.map(_.name).toSet
      t.pkCandidates.filterNot(colNames).foreach(c =>
        errs += s"table ${t.name}: pk candidate '$c' is not a column")
      if (t.columns.nonEmpty) {
        if (t.samplingKey.nonEmpty && !colNames(t.samplingKey))
          errs += s"table ${t.name}: sampling key '${t.samplingKey}' is not a column"
        t.indexes.foreach { ix =>
          if (badIdent(ix.name)) errs += s"table ${t.name}: invalid index name '${ix.name}'"
          if (ix.columns.isEmpty) errs += s"table ${t.name}: index ${ix.name} has no columns"
          ix.columns.filterNot(colNames).foreach(c =>
            errs += s"table ${t.name}: index ${ix.name} references unknown column '$c'")
        }
        t.indexes.groupBy(_.name).collect { case (n, is) if is.size > 1 =>
          errs += s"table ${t.name}: duplicate index name '$n'" }
        t.constraints.foreach { c =>
          if (!Set("not_null", "unique", "range", "enum", "presence", "check")(c.kind))
            errs += s"table ${t.name}: unknown constraint kind '${c.kind}'"
          if (!validProvenance(c.provenance))
            errs += s"table ${t.name}: constraint ${c.name}: unknown provenance '${c.provenance}'"
          c.columns.filterNot(colNames).foreach(cc =>
            errs += s"table ${t.name}: constraint ${c.name} references unknown column '$cc'")
        }
        t.layout.foreach { l =>
          (l.partitionColumns ++ l.bucketColumns ++ l.sortColumns)
            .filterNot(colNames).foreach(c =>
              errs += s"table ${t.name}: layout references unknown column '$c'")
          if (l.bucketColumns.nonEmpty != (l.numBuckets > 0))
            errs += s"table ${t.name}: bucket columns and bucket count disagree"
        }
        t.triggers.foreach { tr =>
          if (badIdent(tr.name)) errs += s"table ${t.name}: invalid trigger name '${tr.name}'"
          if (!Set("insert", "update", "delete")(tr.event))
            errs += s"table ${t.name}: trigger ${tr.name}: unknown event '${tr.event}'"
          if (!Set("before", "after", "instead_of")(tr.timing))
            errs += s"table ${t.name}: trigger ${tr.name}: unknown timing '${tr.timing}'"
          if (!Set("", "row", "statement")(tr.orientation))
            errs += s"table ${t.name}: trigger ${tr.name}: unknown orientation '${tr.orientation}'"
        }
        t.triggers.groupBy(_.name).collect { case (n, ts) if ts.size > 1 =>
          errs += s"table ${t.name}: duplicate trigger name '$n'" }
      }
    }
    val tableCols = a.tables.map(t => t.name -> t.columns.map(_.name).toSet).toMap
    a.foreignKeys.foreach { fk =>
      def check(side: String, tbl: String, c: String): Unit =
        tableCols.get(tbl) match {
          case None => errs += s"foreign key $side references unknown table '$tbl'"
          case Some(cols) if !cols(c) =>
            errs += s"foreign key $side references unknown column '$tbl.$c'"
          case _ =>
        }
      check("child", fk.childTable, fk.childColumn)
      check("parent", fk.parentTable, fk.parentColumn)
      if (fk.coverage < 0.0 || fk.coverage > 1.0)
        errs += s"foreign key ${fk.childTable}.${fk.childColumn}: coverage out of [0,1]"
      val validAction =
        Set("", "no_action", "cascade", "restrict", "set_null", "set_default")
      Seq("on_update" -> fk.onUpdate, "on_delete" -> fk.onDelete).foreach {
        case (which, v) if !validAction(v) =>
          errs += s"foreign key ${fk.childTable}.${fk.childColumn}: unknown $which action '$v'"
        case _ =>
      }
    }
    val validMode = Set("in", "out", "inout", "return", "unknown")
    a.routines.foreach { r =>
      if (badIdent(r.name)) errs += s"invalid routine name '${r.name}'"
      if (!Set("procedure", "function")(r.routineType))
        errs += s"routine ${r.name}: unknown routine type '${r.routineType}'"
      r.parameters.filterNot(p => validMode(p.mode)).foreach(p =>
        errs += s"routine ${r.name}: parameter ${p.name}: unknown mode '${p.mode}'")
      if (r.routineType == "procedure" && r.returns.nonEmpty)
        errs += s"routine ${r.name}: procedure with a return type"
    }
    a.customTypes.foreach { ct =>
      if (badIdent(ct.name)) errs += s"invalid custom type name '${ct.name}'"
      if (!Set("distinct", "struct", "java_object")(ct.kind))
        errs += s"custom type ${ct.name}: unknown kind '${ct.kind}'"
    }
    errs.result()
  }

  case class SchemaDiff(addedTables: Seq[String], removedTables: Seq[String],
      addedColumns: Seq[(String, String)], removedColumns: Seq[(String, String)],
      typeChanges: Seq[(String, String, String, String)],
      rowCountDrift: Seq[(String, Long, Long)])

  /** Survey-to-survey drift report: what changed between two collected
    * artifacts (schema evolution + row-count drift) — the natural
    * companion to repeated `dbsurveyor-collect` runs over a live system.
    */
  def diff(before: Artifact, after: Artifact): SchemaDiff = {
    val b = before.tables.map(t => t.name -> t).toMap
    val a = after.tables.map(t => t.name -> t).toMap
    val shared = b.keySet & a.keySet
    def cols(t: TableInfo) = t.columns.map(c => c.name -> c.dataType).toMap
    val colMaps = shared.toSeq.sorted.map(t => (t, cols(b(t)), cols(a(t))))
    val addedCols = colMaps.flatMap { case (t, bc, ac) =>
      (ac.keySet -- bc.keySet).toSeq.sorted.map(t -> _) }
    val removedCols = colMaps.flatMap { case (t, bc, ac) =>
      (bc.keySet -- ac.keySet).toSeq.sorted.map(t -> _) }
    val typeChanges = colMaps.flatMap { case (t, bc, ac) =>
      (bc.keySet & ac.keySet).toSeq.sorted
        .filter(c => bc(c) != ac(c))
        .map(c => (t, c, bc(c), ac(c))) }
    val drift = shared.toSeq.sorted
      .filter(t => b(t).rowCount != a(t).rowCount)
      .map(t => (t, b(t).rowCount, a(t).rowCount))
    SchemaDiff(
      (a.keySet -- b.keySet).toSeq.sorted, (b.keySet -- a.keySet).toSeq.sorted,
      addedCols, removedCols, typeChanges, drift)
  }

  /** Oracle-checked schema-extraction surface: the flattened column
    * inventory of the whole catalog, with engine-neutral type names. The
    * DuckDB oracle derives the same rows from DESCRIBE, so this genuinely
    * cross-checks schema extraction, not a hardcoded copy.
    */
  def schemaColumns(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.all.flatMap { t =>
      Tables.table(spark, dir, t).schema.fields.map(f =>
        (t, f.name, normalizeType(f.dataType)))
    }
    spark.createDataFrame(rows)
      .toDF("table_name", "column_name", "data_type")
      .orderBy(col("table_name"), col("column_name"))
  }

  /** Un-ordered catalog column listing (DuckDB dialect) — the shared
    * building block: `schemaColumnsSql` adds the ORDER BY, and
    * CatalogSurvey.catalogTypesSql wraps it in a CTE (where an embedded
    * ORDER BY would be illegal). Composing both from this constant keeps
    * them in sync by construction (no string surgery on the ordered SQL).
    */
  val schemaColumnsSqlUnordered: String = {
    val typeCase =
      """CASE column_type
        |  WHEN 'BIGINT' THEN 'int64'
        |  WHEN 'INTEGER' THEN 'int32'
        |  WHEN 'DOUBLE' THEN 'float64'
        |  WHEN 'FLOAT' THEN 'float32'
        |  WHEN 'VARCHAR' THEN 'string'
        |  WHEN 'BOOLEAN' THEN 'bool'
        |  WHEN 'BLOB' THEN 'binary'
        |  WHEN 'TIMESTAMP' THEN 'timestamp'
        |  WHEN 'TIMESTAMP_NS' THEN 'timestamp'
        |  WHEN 'FLOAT[]' THEN 'array<float32>'
        |  ELSE lower(column_type) END""".stripMargin
    Tables.all.map { t =>
      s"SELECT '$t' AS table_name, column_name, $typeCase AS data_type FROM (DESCRIBE SELECT * FROM $t)"
    }.mkString("\nUNION ALL\n")
  }

  val schemaColumnsSql: String =
    schemaColumnsSqlUnordered + "\nORDER BY table_name, column_name"

  /** Catalog-wide sensitive-column scan as a GATED QUERY — the
    * quality-report face of the collect-time detection (same
    * `defaultSensitivePatterns`, same first-match-wins category order):
    * every column of the lake whose NAME pattern-matches a
    * credential/PII class. The oracle applies the identical regexes to
    * DuckDB's DESCRIBE catalog, so the detector's pattern semantics are
    * cross-engine checked, not just exercised. Catalog-bounded driver
    * work (schema fields only — no data scan at all).
    */
  def sensitiveColumnsQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.all.flatMap { t =>
      Tables.table(spark, dir, t).schema.fields.flatMap(f =>
        sensitiveMatch(f.name).map(d => (t, f.name, d)))
    }
    spark.createDataFrame(rows)
      .toDF("table_name", "column_name", "category")
      .orderBy(col("table_name"), col("column_name"))
  }

  val sensitiveColumnsSql: String = {
    val whens = defaultSensitivePatterns.map { case (p, d) =>
      s"    WHEN regexp_matches(column_name, '$p') THEN '$d'"
    }.mkString("\n")
    val anyMatch = defaultSensitivePatterns.map { case (p, _) =>
      s"regexp_matches(column_name, '$p')"
    }.mkString(" OR ")
    s"""WITH cols AS (
       |$schemaColumnsSqlUnordered
       |)
       |SELECT table_name, column_name,
       |  CASE
       |$whens
       |  END AS category
       |FROM cols
       |WHERE $anyMatch
       |ORDER BY table_name, column_name""".stripMargin
  }
}
