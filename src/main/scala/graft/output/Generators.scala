package graft.output

import graft.sources.Collector
import graft.sources.Collector.{Artifact, ServerInfo, TableInfo}

/** Shared generator helpers for the round-4 artifact surfaces. */
private[output] object GenUtil {
  /** Human-readable layout summary, or "" when no layout metadata. */
  def layoutSummary(t: TableInfo): String = t.layout.map { l =>
    val parts = Seq(
      if (l.partitionColumns.nonEmpty)
        Some(s"partitioned by (${l.partitionColumns.mkString(", ")})") else None,
      if (l.numBuckets > 0)
        Some(s"clustered by (${l.bucketColumns.mkString(", ")}) into ${l.numBuckets} buckets") else None,
      if (l.sortColumns.nonEmpty)
        Some(s"sorted by (${l.sortColumns.mkString(", ")})") else None).flatten
    parts.mkString("; ")
  }.getOrElse("")

  /** The "Collection run" summary (duration, access level,
    * multi-database mode), or "" when none is known; `esc` escapes the
    * access level for the target format.
    */
  def collectionRun(s: ServerInfo, esc: String => String): String = Seq(
    if (s.collectionDurationMs >= 0) Some(s"duration ${s.collectionDurationMs} ms") else None,
    if (s.accessLevel.nonEmpty) Some(s"access level ${esc(s.accessLevel)}") else None,
    s.collectionMode.map(m => s"mode multi_database " +
      s"(${m.discovered} discovered / ${m.collected} collected / ${m.failed} failed)")
  ).flatten.mkString(", ")
}

/** Structured output writers — the Spark-side equivalent of the
  * `dbsurveyor` postprocessor binary: a portable JSON artifact
  * (schema.dbsurveyor.json v1.0 analogue) and Markdown documentation
  * (dbsurveyor/src/output.rs markdown generation).
  *
  * Rendering happens driver-side over the (small) collected artifact —
  * metadata scales with schema size, not data size, exactly like the
  * reference's postprocessor that never touches the database again.
  */
object ArtifactJson {

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  /** A JSON string literal: quotes, backslashes and every control char
    * below 0x20 escaped. */
  private[graft] def q(s: String): String = "\"" + esc(s) + "\""

  def render(a: Artifact): String = {
    def table(t: TableInfo): String = {
      val cols = t.columns.map(c =>
        s"""{"name": ${q(c.name)}, "data_type": ${q(c.dataType)}, "nullable": ${c.nullable}, """ +
          s""""is_auto_increment": ${c.autoIncrement}, "default_value": ${q(c.defaultValue)}, """ +
          s""""ordinal_position": ${c.ordinal}""" +
          // v1.4 optional field: omitted entirely when clean, so pre-1.4
          // readers and goldens are untouched
          (if (c.sensitive.nonEmpty) s""", "sensitive": ${q(c.sensitive)}}"""
           else "}"))
        .mkString("[", ", ", "]")
      val sample = t.sampleRows.map(r =>
        r.map(q).mkString("[", ", ", "]")).mkString("[", ", ", "]")
      val idx = t.indexes.map(ix =>
        s"""{"name": ${q(ix.name)}, "columns": ${ix.columns.map(q).mkString("[", ", ", "]")}, "unique": ${ix.unique}}""")
        .mkString("[", ", ", "]")
      val cons = t.constraints.map(c =>
        s"""{"name": ${q(c.name)}, "kind": ${q(c.kind)}, """ +
          s""""columns": ${c.columns.map(q).mkString("[", ", ", "]")}, """ +
          s""""detail": ${q(c.detail)}, "provenance": ${q(c.provenance)}}""")
        .mkString("[", ", ", "]")
      val layout = t.layout.map(l =>
        s"""{"partition_columns": ${l.partitionColumns.map(q).mkString("[", ", ", "]")}, """ +
          s""""bucket_columns": ${l.bucketColumns.map(q).mkString("[", ", ", "]")}, """ +
          s""""num_buckets": ${l.numBuckets}, """ +
          s""""sort_columns": ${l.sortColumns.map(q).mkString("[", ", ", "]")}}""")
        .getOrElse("null")
      val trigs = t.triggers.map(tr =>
        s"""{"name": ${q(tr.name)}, "event": ${q(tr.event)}, """ +
          s""""timing": ${q(tr.timing)}, "orientation": ${q(tr.orientation)}, """ +
          s""""definition": ${q(tr.definition)}}""")
        .mkString("[", ", ", "]")
      s"""{
         |  "name": ${q(t.name)},
         |  "table_type": ${q(t.tableType)},
         |  "view_definition": ${q(t.viewDefinition)},
         |  "row_count": ${t.rowCount},
         |  "sample_status": ${q(t.sampleStatus)},
         |  "sampling": {"strategy": ${q(t.samplingStrategy)}, "key": ${q(t.samplingKey)}},
         |  "warnings": ${t.warnings.map(q).mkString("[", ", ", "]")},
         |  "pk_candidates": ${t.pkCandidates.map(q).mkString("[", ", ", "]")},
         |  "key_provenance": ${q(t.keyProvenance)},
         |  "indexes": $idx,
         |  "constraints": $cons,
         |  "triggers": $trigs,
         |  "layout": $layout,
         |  "columns": $cols,
         |  "sample_header": ${t.sampleHeader.map(q).mkString("[", ", ", "]")},
         |  "sample_rows": $sample
         |}""".stripMargin
    }
    val fks = a.foreignKeys.map(f =>
      s"""{"child_table": ${q(f.childTable)}, "child_column": ${q(f.childColumn)}, """ +
        s""""parent_table": ${q(f.parentTable)}, "parent_column": ${q(f.parentColumn)}, """ +
        s""""coverage": ${f.coverage}, "likely": ${f.likely}, "provenance": ${q(f.provenance)}, """ +
        s""""on_update": ${q(f.onUpdate)}, "on_delete": ${q(f.onDelete)}}""")
      .mkString("[", ",\n", "]")
    val routines = a.routines.map { r =>
      val ps = r.parameters.map(p =>
        s"""{"name": ${q(p.name)}, "data_type": ${q(p.dataType)}, "mode": ${q(p.mode)}}""")
        .mkString("[", ", ", "]")
      s"""{"name": ${q(r.name)}, "routine_type": ${q(r.routineType)}, """ +
        s""""parameters": $ps, "returns": ${q(r.returns)}}"""
    }.mkString("[", ",\n", "]")
    val customTypes = a.customTypes.map(ct =>
      s"""{"name": ${q(ct.name)}, "kind": ${q(ct.kind)}, "class_name": ${q(ct.className)}}""")
      .mkString("[", ",\n", "]")
    val server = a.server.map { s =>
      // v1.3 optional field: absent = a single-database run (the
      // reference's CollectionMode::SingleDatabase carries no counts)
      val mode = s.collectionMode.map(m =>
        s""", "collection_mode": {"mode": "multi_database", """ +
          s""""discovered": ${m.discovered}, "collected": ${m.collected}, """ +
          s""""failed": ${m.failed}}""").getOrElse("")
      s"""{"engine": ${q(s.engine)}, "version": ${q(s.version)}, """ +
        s""""collected_at": ${q(s.collectedAt)}, "table_count": ${s.tableCount}, """ +
        s""""collection_duration_ms": ${s.collectionDurationMs}, """ +
        s""""access_level": ${q(s.accessLevel)}$mode}"""
    }.getOrElse("null")
    s"""{
       |"format_version": ${q(a.formatVersion)},
       |"source": ${q(a.source)},
       |"server": $server,
       |"warnings": ${a.warnings.map(q).mkString("[", ", ", "]")},
       |"table_count": ${a.tables.size},
       |"tables": ${a.tables.map(table).mkString("[\n", ",\n", "\n]")},
       |"foreign_keys": $fks,
       |"routines": $routines,
       |"custom_types": $customTypes
       |}""".stripMargin
  }
}

/** SQL-DDL reconstruction of the surveyed schema — the reference's
  * `--format sql` output, which dbsurveyor/src/output.rs:121 leaves as a
  * "not yet implemented" placeholder; implemented for real here.
  * Engine-neutral types map to ANSI-ish DDL; inferred PK candidates
  * become a PRIMARY KEY (first candidate, others recorded as comments)
  * and likely FK edges become ALTER TABLE constraints.
  */
object SqlDdlDoc {

  /** Target dialect for DDL generation (reference main.rs:209-220
    * SqlDialect: postgresql | mysql | sqlite | sqlserver | generic;
    * the reference defaults to postgresql, the library API here keeps
    * `Generic` as the no-argument default so engine-neutral output
    * stays the baseline and goldens are dialect-pinned explicitly).
    */
  sealed abstract class SqlDialect(val dialectName: String)
  object SqlDialect {
    case object Postgres extends SqlDialect("postgresql")
    case object MySql extends SqlDialect("mysql")
    case object SQLite extends SqlDialect("sqlite")
    case object SqlServer extends SqlDialect("sqlserver")
    case object Generic extends SqlDialect("generic")
    val all: Seq[SqlDialect] = Seq(Postgres, MySql, SQLite, SqlServer, Generic)
    def byName(n: String): SqlDialect =
      all.find(_.dialectName == n.toLowerCase).getOrElse(Generic)
  }
  import SqlDialect._

  /** Engine-neutral artifact type → dialect-concrete DDL type. String
    * columns map to bounded VARCHARs where the dialect can't index an
    * unbounded text type (mysql/sqlserver PK/UNIQUE restrictions);
    * arrays degrade to the dialect's closest container (native arrays
    * only exist in postgres) with the element type noted.
    */
  private def sqlType(t: String, d: SqlDialect): String = (t, d) match {
    case ("int64", SQLite) => "INTEGER"
    case ("int64", _) => "BIGINT"
    case ("int32", SqlServer | MySql) => "INT"
    case ("int32", SQLite) => "INTEGER"
    case ("int32", _) => "INTEGER"
    case ("float64", Postgres) => "DOUBLE PRECISION"
    case ("float64", MySql) => "DOUBLE"
    case ("float64", SQLite) => "REAL"
    case ("float64", SqlServer) => "FLOAT"
    case ("float64", Generic) => "DOUBLE"
    case ("float32", SqlServer | Postgres | Generic) => "REAL"
    case ("float32", MySql) => "FLOAT"
    case ("float32", SQLite) => "REAL"
    case ("string", Postgres) => "TEXT"
    case ("string", MySql) => "VARCHAR(255)"
    case ("string", SQLite) => "TEXT"
    case ("string", SqlServer) => "NVARCHAR(255)"
    case ("string", Generic) => "VARCHAR"
    case ("bool", MySql) => "BOOLEAN" // TINYINT(1) alias
    case ("bool", SQLite) => "INTEGER"
    case ("bool", SqlServer) => "BIT"
    case ("bool", _) => "BOOLEAN"
    case ("binary", Postgres) => "BYTEA"
    case ("binary", SqlServer) => "VARBINARY(MAX)"
    case ("binary", _) => "BLOB"
    case ("timestamp", MySql) => "DATETIME"
    case ("timestamp", SQLite) => "TEXT"
    case ("timestamp", SqlServer) => "DATETIME2"
    case ("timestamp", _) => "TIMESTAMP"
    case (a, Postgres) if a.startsWith("array<") =>
      sqlType(a.stripPrefix("array<").stripSuffix(">"), d) + "[]"
    case (a, MySql) if a.startsWith("array<") =>
      s"JSON /* array of ${a.stripPrefix("array<").stripSuffix(">")} */"
    case (a, SQLite) if a.startsWith("array<") =>
      s"TEXT /* array of ${a.stripPrefix("array<").stripSuffix(">")} */"
    case (a, SqlServer) if a.startsWith("array<") =>
      s"NVARCHAR(MAX) /* array of ${a.stripPrefix("array<").stripSuffix(">")} */"
    case (a, Generic) if a.startsWith("array<") =>
      sqlType(a.stripPrefix("array<").stripSuffix(">"), d) + "[]"
    case (other, _) => other.toUpperCase
  }

  /** Dialect identity/auto-increment clause; SQLite has none (its
    * INTEGER PRIMARY KEY auto-assigns rowids), so the fact is kept as
    * an inline comment instead of a clause its parser would reject.
    */
  private def identityClause(d: SqlDialect): String = d match {
    case MySql => " AUTO_INCREMENT"
    case SqlServer => " IDENTITY(1,1)"
    case SQLite => " /* auto-increment in source */"
    case _ => " GENERATED ALWAYS AS IDENTITY"
  }

  def render(a: Artifact): String = render(a, Generic)

  def render(a: Artifact, dialect: SqlDialect): String = {
    def sqlTypeD(t: String): String = sqlType(t, dialect)
    val sb = new StringBuilder
    sb ++= s"-- Schema DDL reconstructed by graft from: ${a.source}\n"
    sb ++= s"-- format version ${a.formatVersion}; dialect ${dialect.dialectName}\n"
    a.server.foreach(s =>
      sb ++= s"-- engine: ${s.engine} ${s.version}; collected at ${s.collectedAt}; ${s.tableCount} tables\n")
    sb ++= "\n"
    // tables render in FK-dependency order (parents first, stable
    // within a layer) so the emitted DDL is executable as-is; the
    // trailing ALTER TABLE ... FOREIGN KEY block then always finds
    // both ends created
    val layers = Collector.loadOrder(a).toMap
    val ordered = a.tables.zipWithIndex
      .sortBy { case (t, i) => (layers.getOrElse(t.name, 0), i) }.map(_._1)
    val multiLayer = layers.values.exists(_ > 0)
    ordered.foreach { t =>
      if (multiLayer && t.columns.nonEmpty)
        sb ++= s"-- load order: layer ${layers.getOrElse(t.name, 0)}\n"
      if (t.columns.isEmpty) {
        sb ++= s"-- table ${t.name}: collection ${t.sampleStatus}, schema unavailable\n\n"
      } else {
        // a view with a COLLECTED definition renders as the real CREATE
        // VIEW (Derby's SYSVIEWS stores the full original statement; a
        // bare SELECT gets the CREATE VIEW prefix); without one it
        // degrades to the resolved-schema reconstruction as before
        if (t.tableType == "view" && t.viewDefinition.nonEmpty) {
          val defn = t.viewDefinition.trim.stripSuffix(";")
          sb ++= s"-- ${t.name} is a VIEW (definition collected from the engine catalog)\n"
          sb ++= (if (defn.toUpperCase.startsWith("CREATE")) s"$defn;\n\n"
            else s"CREATE VIEW ${t.name} AS $defn;\n\n")
        } else {
        if (t.tableType == "view")
          sb ++= s"-- ${t.name} is a VIEW in the source engine (definition not collected);\n" +
            "-- reconstructed below as a table of its resolved schema\n"
        if (t.pkCandidates.size > 1 && t.keyProvenance == "inferred")
          sb ++= s"-- candidate keys: ${t.pkCandidates.mkString(", ")}\n"
        // a COLLECTED multi-column key is one composite PRIMARY KEY; an
        // INFERRED candidate list is alternatives — only the first is
        // rendered as the key (the rest stay comments above)
        val pkCols: Seq[String] =
          if (t.keyProvenance == "collected") t.pkCandidates
          else t.pkCandidates.take(1)
        val inlinePk = pkCols.size == 1
        // constraints render as CHECK clauses (the reference's
        // check-constraint surface, models.rs:156-175): engine-COLLECTED
        // clauses verbatim under their constraint name, data-inferred
        // range/enum candidates as reconstructed predicates
        val checks = t.constraints.collect {
          case c if c.kind == "check" =>
            val d = c.detail.trim
            val clause = if (d.startsWith("(")) d else s"($d)"
            s"  CONSTRAINT ${c.name} CHECK $clause -- ${c.provenance}"
          case c if c.kind == "range" && c.columns.size == 1 =>
            val bounds = c.detail.stripPrefix("[").stripSuffix("]").split(",")
            s"  CHECK (${c.columns.head} BETWEEN ${bounds(0)} AND ${bounds(1)}) -- ${c.provenance}"
          case c if c.kind == "enum" && c.columns.size == 1 =>
            // detail is a JSON string array (comma-safe: a value
            // containing ',' can't split into bogus IN-list entries)
            val vals = ArtifactLoad.parseStringArray(c.detail)
              .map(v => s"'${v.replace("'", "''")}'")
            s"  CHECK (${c.columns.head} IN (${vals.mkString(", ")})) -- ${c.provenance}"
        }
        val notNullInferred = t.constraints
          .collect { case c if c.kind == "not_null" => c.columns.head }.toSet
        val uniqueInferred = t.constraints
          .collect { case c if c.kind == "unique" => c.columns.head }.toSet
        val cols = t.columns.map { c =>
          val nn = if (!c.nullable || notNullInferred(c.name)) " NOT NULL" else ""
          val pk = if (inlinePk && pkCols.headOption.contains(c.name)) " PRIMARY KEY" else ""
          val uq = if (pk.isEmpty && uniqueInferred(c.name) &&
            !t.indexes.exists(ix => ix.unique && ix.columns == Seq(c.name))) " UNIQUE" else ""
          // collected column catalog details (models.rs:71-77): identity
          // columns reconstruct as GENERATED; a collected default renders
          // as a real DEFAULT clause (identity wins — engines reject both)
          val gen = if (c.autoIncrement) identityClause(dialect) else ""
          val dflt = if (!c.autoIncrement && c.defaultValue.nonEmpty)
            s" DEFAULT ${c.defaultValue}" else ""
          s"  ${c.name} ${sqlTypeD(c.dataType)}$gen$dflt$nn$pk$uq"
        }
        val compositePk =
          if (!inlinePk && pkCols.nonEmpty)
            Seq(s"  PRIMARY KEY (${pkCols.mkString(", ")})") else Nil
        sb ++= (cols ++ compositePk ++ checks)
          .mkString(s"CREATE TABLE ${t.name} (\n", ",\n", "\n);\n")
        GenUtil.layoutSummary(t) match {
          case "" =>
          case s => sb ++= s"-- layout: $s\n"
        }
        t.indexes.filterNot(ix => ix.columns == pkCols).foreach { ix =>
          val u = if (ix.unique) "UNIQUE " else ""
          sb ++= s"CREATE ${u}INDEX ${ix.name} ON ${t.name} (${ix.columns.mkString(", ")});\n"
        }
        // collected triggers render as comments: the metadata is surveyed
        // (models.rs:216-241), never executed by a batch lake engine
        t.triggers.foreach { tr =>
          val orient =
            if (tr.orientation.nonEmpty) s" FOR EACH ${tr.orientation.toUpperCase}" else ""
          val defn = tr.definition.replaceAll("\\s+", " ").trim
          sb ++= s"-- TRIGGER ${tr.name} ${tr.timing.toUpperCase.replace('_', ' ')} " +
            s"${tr.event.toUpperCase} ON ${t.name}$orient: $defn\n"
        }
        sb ++= "\n"
        }
      }
    }
    a.foreignKeys.filter(_.likely).foreach { f =>
      // engine-collected referential actions render as the real clause;
      // NO ACTION is the SQL default and stays implicit, "" = inferred
      // edge (no engine-declared behavior to render)
      def action(clause: String, v: String): String =
        if (v.isEmpty || v == "no_action") ""
        else s" $clause ${v.toUpperCase.replace('_', ' ')}"
      sb ++= s"ALTER TABLE ${f.childTable} ADD FOREIGN KEY (${f.childColumn}) " +
        s"REFERENCES ${f.parentTable} (${f.parentColumn})" +
        action("ON UPDATE", f.onUpdate) + action("ON DELETE", f.onDelete) +
        s"; -- ${f.provenance}\n"
    }
    if (a.routines.nonEmpty) {
      sb ++= "\n-- stored routines (collected from the engine catalog):\n"
      a.routines.foreach { r =>
        val ps = r.parameters.map(p =>
          (if (r.routineType == "procedure") s"${p.mode.toUpperCase} " else "") +
            s"${p.name} ${p.dataType}").mkString(", ")
        val ret = if (r.returns.nonEmpty) s" RETURNS ${r.returns}" else ""
        sb ++= s"-- ${r.routineType.toUpperCase} ${r.name}($ps)$ret\n"
      }
    }
    if (a.customTypes.nonEmpty) {
      sb ++= "\n-- custom types (collected from the engine catalog):\n"
      a.customTypes.foreach { ct =>
        val cls = if (ct.className.nonEmpty) s" backed by ${ct.className}" else ""
        sb ++= s"-- TYPE ${ct.name} (${ct.kind})$cls\n"
      }
    }
    sb.result()
  }
}

/** Mermaid er-diagram of the surveyed schema + inferred relationships —
  * the reference's mermaid placeholder (output.rs:202), implemented.
  * Types are sanitized to mermaid-legal identifiers (no angle brackets).
  */
object MermaidDoc {

  private def mmType(t: String): String =
    t.replace("array<", "").replace(">", "_array").replace("<", "_")

  def render(a: Artifact): String = {
    val sb = new StringBuilder
    sb ++= "erDiagram\n"
    a.tables.filter(_.columns.nonEmpty).foreach { t =>
      sb ++= s"  ${t.name} {\n"
      t.columns.foreach { c =>
        val pk = if (t.pkCandidates.contains(c.name)) " PK"
          else if (t.indexes.exists(ix => ix.unique && ix.columns == Seq(c.name))) " UK"
          else ""
        sb ++= s"    ${mmType(c.dataType)} ${c.name}$pk\n"
      }
      sb ++= "  }\n"
    }
    a.foreignKeys.filter(_.likely).foreach { f =>
      // many child rows reference exactly one parent row
      sb ++= s"""  ${f.childTable} }o--|| ${f.parentTable} : "${f.childColumn} -> ${f.parentColumn}"\n"""
    }
    sb.result()
  }
}

/** Self-contained HTML documentation — the reference's HTML placeholder
  * (output.rs:164), implemented: overview, inferred relationships, and
  * per-table column/sample sections, all values HTML-escaped.
  */
object HtmlDoc {

  private def esc(s: String): String = s.flatMap {
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '&' => "&amp;"
    case '"' => "&quot;"
    case c => c.toString
  }

  def render(a: Artifact): String = {
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
    sb ++= s"<title>${esc(a.source)}</title></head>\n<body>\n"
    sb ++= s"<h1>Database Documentation: ${esc(a.source)}</h1>\n"
    a.server.foreach { s =>
      sb ++=
        s"<p>Engine: ${esc(s.engine)} ${esc(s.version)} &mdash; collected at ${esc(s.collectedAt)} &mdash; ${s.tableCount} tables</p>\n"
      val run = GenUtil.collectionRun(s, esc)
      if (run.nonEmpty) sb ++= s"<p>Collection run: $run</p>\n"
    }
    sb ++= "<h2>Overview</h2>\n<table><tr><th>Table</th><th>Rows</th><th>Columns</th><th>Status</th><th>Sampling</th></tr>\n"
    a.tables.foreach(t => sb ++=
      s"<tr><td>${esc(t.name)}</td><td>${t.rowCount}</td><td>${t.columns.size}</td><td>${esc(t.sampleStatus)}</td><td>${esc(t.samplingStrategy)}</td></tr>\n")
    sb ++= "</table>\n"
    if (a.foreignKeys.nonEmpty) {
      sb ++= "<h2>Relationships</h2>\n<table><tr><th>Child</th><th>Parent</th><th>Coverage</th><th>Provenance</th><th>On update</th><th>On delete</th></tr>\n"
      a.foreignKeys.filter(_.likely).foreach(f => sb ++=
        s"<tr><td>${esc(f.childTable)}.${esc(f.childColumn)}</td>" +
          s"<td>${esc(f.parentTable)}.${esc(f.parentColumn)}</td><td>${f"${f.coverage}%.3f"}</td>" +
          s"<td>${esc(f.provenance)}</td><td>${esc(f.onUpdate)}</td><td>${esc(f.onDelete)}</td></tr>\n")
      sb ++= "</table>\n"
    }
    if (a.routines.nonEmpty) {
      sb ++= "<h2>Stored routines</h2>\n<table><tr><th>Name</th><th>Type</th><th>Parameters</th><th>Returns</th></tr>\n"
      a.routines.foreach { r =>
        val ps = r.parameters.map(p => s"${p.mode} ${p.name} ${p.dataType}")
          .mkString("; ")
        sb ++= s"<tr><td>${esc(r.name)}</td><td>${esc(r.routineType)}</td><td>${esc(ps)}</td><td>${esc(r.returns)}</td></tr>\n"
      }
      sb ++= "</table>\n"
    }
    if (a.customTypes.nonEmpty) {
      sb ++= "<h2>Custom types</h2>\n<table><tr><th>Name</th><th>Kind</th><th>Class</th></tr>\n"
      a.customTypes.foreach(ct => sb ++=
        s"<tr><td>${esc(ct.name)}</td><td>${esc(ct.kind)}</td><td>${esc(ct.className)}</td></tr>\n")
      sb ++= "</table>\n"
    }
    a.tables.foreach { t =>
      sb ++= s"<h2>Table: ${esc(t.name)}</h2>\n"
      if (t.viewDefinition.nonEmpty)
        sb ++= s"<p>View definition (collected): <code>${esc(t.viewDefinition.trim)}</code></p>\n"
      GenUtil.layoutSummary(t) match {
        case "" =>
        case s => sb ++= s"<p>Layout: ${esc(s)}</p>\n"
      }
      sb ++= "<table><tr><th>Column</th><th>Type</th><th>Nullable</th><th>Default</th></tr>\n"
      t.columns.foreach { c =>
        val d = if (c.autoIncrement) "IDENTITY" else c.defaultValue
        sb ++= s"<tr><td>${esc(c.name)}</td><td>${esc(c.dataType)}</td><td>${c.nullable}</td><td>${esc(d)}</td></tr>\n"
      }
      sb ++= "</table>\n"
      t.columns.filter(_.sensitive.nonEmpty).foreach(c =>
        sb ++= s"""<p class="warn">WARNING: column <code>${esc(c.name)}</code> may contain a ${esc(c.sensitive)}</p>\n""")
      if (t.indexes.nonEmpty) {
        sb ++= "<h3>Indexes</h3>\n<table><tr><th>Name</th><th>Columns</th><th>Unique</th></tr>\n"
        t.indexes.foreach(ix => sb ++=
          s"<tr><td>${esc(ix.name)}</td><td>${esc(ix.columns.mkString(", "))}</td><td>${ix.unique}</td></tr>\n")
        sb ++= "</table>\n"
      }
      if (t.constraints.nonEmpty) {
        sb ++= "<h3>Constraints</h3>\n<table><tr><th>Kind</th><th>Columns</th><th>Detail</th><th>Provenance</th></tr>\n"
        t.constraints.foreach(c => sb ++=
          s"<tr><td>${esc(c.kind)}</td><td>${esc(c.columns.mkString(", "))}</td><td>${esc(c.detail)}</td><td>${esc(c.provenance)}</td></tr>\n")
        sb ++= "</table>\n"
      }
      if (t.triggers.nonEmpty) {
        sb ++= "<h3>Triggers</h3>\n<table><tr><th>Name</th><th>Timing</th><th>Event</th><th>Orientation</th><th>Definition</th></tr>\n"
        t.triggers.foreach(tr => sb ++=
          s"<tr><td>${esc(tr.name)}</td><td>${esc(tr.timing)}</td><td>${esc(tr.event)}</td><td>${esc(tr.orientation)}</td><td>${esc(tr.definition)}</td></tr>\n")
        sb ++= "</table>\n"
      }
      if (t.sampleRows.nonEmpty) {
        sb ++= s"<h3>Sample (${t.sampleRows.size} rows)</h3>\n<table>"
        sb ++= t.sampleHeader.map(esc).mkString("<tr><th>", "</th><th>", "</th></tr>\n")
        t.sampleRows.foreach(r =>
          sb ++= r.map(esc).mkString("<tr><td>", "</td><td>", "</td></tr>\n"))
        sb ++= "</table>\n"
      }
    }
    sb ++= "</body></html>\n"
    sb.result()
  }
}

object MarkdownDoc {

  /** One table row: each cell has `|` escaped and every line break
    * turned into a space, so no value can add a column or end the table.
    */
  private def row(cells: Any*): String =
    cells.map(c => String.valueOf(c).replaceAll("\r\n|\r|\n", " ").replace("|", "\\|"))
      .mkString("| ", " | ", " |\n")

  /** Markdown documentation: overview table + per-table sections with
    * column inventory and sample rows, mirroring `dbsurveyor generate
    * --format markdown`.
    */
  def render(a: Artifact): String = {
    val sb = new StringBuilder
    sb ++= s"# Database Documentation: ${a.source}\n\n"
    sb ++= s"Format version: ${a.formatVersion}\n\n"
    a.server.foreach { s =>
      sb ++= s"Engine: ${s.engine} ${s.version} — collected at ${s.collectedAt} — ${s.tableCount} tables\n\n"
      val run = GenUtil.collectionRun(s, identity)
      if (run.nonEmpty) sb ++= s"Collection run: $run\n\n"
    }
    sb ++= "## Overview\n\n"
    sb ++= "| Table | Rows | Columns |\n| --- | --- | --- |\n"
    a.tables.foreach(t => sb ++= row(t.name, t.rowCount, t.columns.size))
    sb ++= "\n"
    if (a.foreignKeys.nonEmpty) {
      sb ++= "## Relationships\n\n"
      sb ++= "| Child | Parent | Coverage | Likely FK | Provenance | On update | On delete |\n"
      sb ++= "| --- | --- | --- | --- | --- | --- | --- |\n"
      a.foreignKeys.foreach(f =>
        sb ++= row(s"${f.childTable}.${f.childColumn}", s"${f.parentTable}.${f.parentColumn}",
          f"${f.coverage}%.3f", f.likely, f.provenance, f.onUpdate, f.onDelete))
      sb ++= "\n"
    }
    if (a.routines.nonEmpty) {
      sb ++= "## Stored routines\n\n"
      sb ++= "| Name | Type | Parameters | Returns |\n| --- | --- | --- | --- |\n"
      a.routines.foreach { r =>
        val ps = r.parameters.map(p => s"${p.mode} ${p.name} ${p.dataType}")
          .mkString("; ")
        sb ++= row(r.name, r.routineType, ps, r.returns)
      }
      sb ++= "\n"
    }
    if (a.customTypes.nonEmpty) {
      sb ++= "## Custom types\n\n"
      sb ++= "| Name | Kind | Class |\n| --- | --- | --- |\n"
      a.customTypes.foreach(ct => sb ++= row(ct.name, ct.kind, ct.className))
      sb ++= "\n"
    }
    a.tables.foreach { t =>
      sb ++= s"## Table: ${t.name}\n\n"
      if (t.sampleStatus != "success")
        sb ++= s"Sample status: **${t.sampleStatus}**" +
          (if (t.warnings.nonEmpty) s" (${t.warnings.mkString("; ")})" else "") + "\n\n"
      if (t.pkCandidates.nonEmpty) {
        val label = if (t.keyProvenance == "collected") "Primary key (collected)"
          else "Primary key candidates"
        sb ++= s"$label: ${t.pkCandidates.map(c => s"`$c`").mkString(", ")}\n\n"
      }
      if (t.viewDefinition.nonEmpty)
        sb ++= s"View definition (collected):\n\n```sql\n${t.viewDefinition.trim}\n```\n\n"
      GenUtil.layoutSummary(t) match {
        case "" =>
        case s => sb ++= s"Layout: $s\n\n"
      }
      sb ++= "| Column | Type | Nullable | Default |\n| --- | --- | --- | --- |\n"
      t.columns.foreach { c =>
        val d = if (c.autoIncrement) "IDENTITY" else c.defaultValue
        sb ++= row(c.name, c.dataType, c.nullable, d)
      }
      val sens = t.columns.filter(_.sensitive.nonEmpty)
      if (sens.nonEmpty) {
        sb ++= "\n"
        sens.foreach(c =>
          sb ++= s"> WARNING: column `${c.name}` may contain a ${c.sensitive}\n")
      }
      if (t.indexes.nonEmpty) {
        sb ++= "\n### Indexes\n\n| Name | Columns | Unique |\n| --- | --- | --- |\n"
        t.indexes.foreach(ix => sb ++= row(ix.name, ix.columns.mkString(", "), ix.unique))
      }
      if (t.constraints.nonEmpty) {
        sb ++= "\n### Constraints\n\n| Kind | Columns | Detail | Provenance |\n| --- | --- | --- | --- |\n"
        t.constraints.foreach(c =>
          sb ++= row(c.kind, c.columns.mkString(", "), c.detail, c.provenance))
      }
      if (t.triggers.nonEmpty) {
        sb ++= "\n### Triggers\n\n| Name | Timing | Event | Orientation | Definition |\n| --- | --- | --- | --- | --- |\n"
        t.triggers.foreach(tr =>
          sb ++= row(tr.name, tr.timing, tr.event, tr.orientation,
            tr.definition.replaceAll("\\s+", " ")))
      }
      if (t.sampleRows.nonEmpty) {
        sb ++= s"\n### Sample (${t.sampleRows.size} rows)\n\n"
        sb ++= row(t.sampleHeader: _*)
        sb ++= row(t.sampleHeader.map(_ => "---"): _*)
        t.sampleRows.foreach(r => sb ++= row(r: _*))
      }
      sb ++= "\n"
    }
    sb.result()
  }
}

/** Schema-analysis summary — the reference CLI's `analyze` command
  * (dbsurveyor/src/output.rs:179-198 analyze_schema): headline counts
  * (tables, views, indexes, constraints) plus the `--detailed` section
  * (procedures, functions, triggers, custom types). Counts are split
  * the way the reference's artifact splits them: views are the
  * tableType == "view" entries, routine kinds by routineType.
  */
object AnalyzeDoc {
  import graft.sources.Collector._

  case class Counts(tables: Int, views: Int, indexes: Int,
      constraints: Int, procedures: Int, functions: Int, triggers: Int,
      customTypes: Int)

  def counts(a: Artifact): Counts = Counts(
    tables = a.tables.count(_.tableType != "view"),
    views = a.tables.count(_.tableType == "view"),
    indexes = a.tables.map(_.indexes.size).sum,
    constraints = a.tables.map(_.constraints.size).sum,
    procedures = a.routines.count(_.routineType == "procedure"),
    functions = a.routines.count(_.routineType == "function"),
    triggers = a.tables.map(_.triggers.size).sum,
    customTypes = a.customTypes.size)

  def render(a: Artifact, detailed: Boolean = false): String = {
    val c = counts(a)
    val sb = new StringBuilder
    sb ++= s"Schema Analysis: ${a.source}\n"
    sb ++= "================\n"
    sb ++= s"Tables: ${c.tables}\n"
    sb ++= s"Views: ${c.views}\n"
    sb ++= s"Indexes: ${c.indexes}\n"
    sb ++= s"Constraints: ${c.constraints}\n"
    if (detailed) {
      sb ++= "\nDetailed Analysis:\n"
      sb ++= s"- Procedures: ${c.procedures}\n"
      sb ++= s"- Functions: ${c.functions}\n"
      sb ++= s"- Triggers: ${c.triggers}\n"
      sb ++= s"- Custom Types: ${c.customTypes}\n"
    }
    sb.result()
  }
}
