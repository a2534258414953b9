package graft.spark

import java.util.UUID

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.{StrawFileWriter, WriteOptions}

/** A Spark [[TableCatalog]] over a warehouse directory of strawboat tables —
  * the piece that turns the path-based connector into a full SQL surface:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.straw", "graft.spark.StrawCatalog")
  * spark.conf.set("spark.sql.catalog.straw.warehouse", "/data/warehouse")
  *
  * CREATE TABLE straw.db.events (id BIGINT, kind STRING)
  *   PARTITIONED BY (kind)
  * INSERT INTO straw.db.events SELECT ...
  * SELECT * FROM straw.db.events VERSION AS OF 3      -- time travel
  * SELECT * FROM straw.db.events TIMESTAMP AS OF '2026-01-01 00:00:00'
  * }}}
  *
  * Layout: a table named `ns1.ns2.t` lives at `<warehouse>/ns1/ns2/t`;
  * namespaces are plain directories. A directory COUNTS as a table when it
  * holds `.strb` data, a transaction log, or the catalog's own
  * `_straw_table.json` sidecar (which records the partition columns and
  * table properties that are not derivable from data files — an empty
  * partitioned table has no `col=value` directories to infer from).
  *
  * Scale notes: `loadTable` resolves the schema through the same
  * log-served, footer-cache-backed inference as the path reader —
  * repeated planning over an unchanged table costs zero footer IO. Inserts
  * into a partitioned table inherit the table's partition columns, so plain
  * `INSERT INTO` maintains the hive layout (and the clustered write
  * distribution) without any per-statement options. Time travel resolves
  * the version ONCE here, and the pinned [[StrawboatTable]] refuses writes.
  */
class StrawCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  /** The catalog's built-in functions: just `bucket`. Serving it here is
    * what lets Spark resolve a scan-reported `bucket(n, col)` transform to a
    * concrete hash — the precondition for storage-partitioned joins between
    * bucketed tables (and it doubles as SQL `cat.bucket(n, col)`). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket"))
      StrawBucket.BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/")).getOrElse(
      throw new IllegalArgumentException(
        s"strawboat: set spark.sql.catalog.$name.warehouse to the table root directory"))
  }
  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array.empty

  /** ANSI constraint DDL routes through the catalog (CREATE TABLE …
    * CHECK (…), ALTER TABLE ADD/DROP CONSTRAINT) — enforcement itself is
    * the engine's log-recorded [[StrawConstraints]] machinery. */
  override def capabilities(): java.util.Set[TableCatalogCapability] = {
    val s = new java.util.HashSet[TableCatalogCapability]()
    s.add(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)
    // column DEFAULTs live in StructField metadata, which the footer's
    // StructType-JSON schema round-trips; the analyzer does the filling
    s.add(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)
    s
  }

  // -------------------------------------------------------------------------
  // path mapping
  // -------------------------------------------------------------------------

  private def checkPart(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\") &&
      part != "." && part != ".." && !part.startsWith("_") && !part.startsWith("."),
      s"strawboat: illegal catalog name component '$part'")
    part
  }

  private def dirOf(ident: Identifier): String =
    ((warehouse +: ident.namespace().map(checkPart)) :+ checkPart(ident.name()))
      .mkString("/")

  private def dirOf(ns: Array[String]): String =
    (warehouse +: ns.map(checkPart)).mkString("/")

  /** A table dir is recognized by a catalog sidecar, a transaction log,
    * `.strb` data at its root, or hive `col=value` subdirectories — all
    * SHALLOW checks: a namespace directory holding tables must not itself
    * read as a table, so we never recurse into children here. Externally
    * written strawboat directories under the warehouse surface as tables. */
  private def isTable(dir: String): Boolean = {
    val f = StrawIO.fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) return false
    f.exists(new Path(p, StrawTableSidecar.FileName)) ||
      f.exists(new Path(p, StrawLog.DirName)) || {
        val entries = f.listStatus(p)
        entries.exists(st => st.isFile &&
          st.getPath.getName.endsWith(graft.format.StrawFormat.Extension)) ||
          entries.exists(st => st.isDirectory && st.getPath.getName.contains("="))
      }
  }

  // -------------------------------------------------------------------------
  // TableCatalog
  // -------------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace)
    val f = StrawIO.fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .filter(n => isTable(s"$dir/$n"))
      .map(n => Identifier.of(namespace, n))
  }

  override def tableExists(ident: Identifier): Boolean =
    try isTable(dirOf(ident)) catch { case _: IllegalArgumentException => false }

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** `VERSION AS OF n` — pins the log version. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(
      try version.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"strawboat: VERSION AS OF wants a numeric log version, got '$version'")
      }))

  /** `TIMESTAMP AS OF ts` — Spark hands epoch MICROseconds; resolve to the
    * newest version committed at or before it (same rules as the
    * `timestampAsOf` reader option, including the beyond-latest refusal). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val opts = new CaseInsensitiveStringMap(
      Map("path" -> dir, "timestampAsOf" -> (timestampMicros / 1000L).toString).asJava)
    loadAt(ident, TimeTravel.resolveAsOf(dir, opts))
  }

  private def loadAt(ident: Identifier, asOf: Option[Long]): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val sidecar = StrawTableSidecar.read(dir)
    val optMap = Map("path" -> dir) ++ asOf.map("versionAsOf" -> _.toString)
    val schema = new StrawboatDataSource()
      .inferSchema(new CaseInsensitiveStringMap(optMap.asJava))
    val partitionBy = sidecar.map(_.partitionBy).filter(_.nonEmpty).getOrElse(
      // schema markers live at the table ROOT — deriving from one would
      // misreport a partitioned table as unpartitioned
      StrawIO.listFiles(dir).filterNot(graft.spark.StrawBucket.isMarker).headOption
        .map(f => PartitionLayout.partitionsOf(f).map(_._1)).getOrElse(Seq.empty))
    new StrawboatTable(dir, schema, partitionBy,
      asOfOpt = asOf,
      propertiesArg = sidecar.map(_.properties).getOrElse(Map.empty))
  }

  /** CREATE TABLE with ANSI constraints (the TableInfo overload). */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val t = createTable(ident, info.schema(), info.partitions(), info.properties())
    if (info.constraints().isEmpty) t
    else {
      info.constraints().foreach(c => addCheckConstraint(dirOf(ident), c))
      loadTable(ident)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    // PARTITIONED BY accepts identity transforms (hive directories) plus at
    // most one bucket(n, col) — the hash-bucket layout that buys
    // storage-partitioned joins (see StrawBucket); persisted as write.*
    // properties so every INSERT inherits it
    val (bucketTs, identTs) = partitions.toSeq.partition(_.name == "bucket")
    require(bucketTs.size <= 1,
      s"strawboat: at most one bucket(n, col) transform, got ${bucketTs.size}")
    val partitionBy = identTs.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"strawboat: only identity (hive-style) and bucket(n, col) " +
          s"partitioning are supported, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    val bucketProps: Map[String, String] = bucketTs.headOption.map { t =>
      val n = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.asInstanceOf[Number].intValue
      }.getOrElse(throw new IllegalArgumentException(
        s"strawboat: bucket transform carries no bucket count: $t"))
      require(t.references.length >= 1,
        s"strawboat: bucket takes at least one column, got $t")
      // declared order is load-bearing: the multi-column hash chains
      // per-column hashes, so bucket(n, a, b) != bucket(n, b, a)
      val cols = t.references.toSeq.map(_.fieldNames.mkString("."))
      require(cols.distinct.size == cols.size,
        s"strawboat: bucket lists a column twice: $t")
      val flds = cols.map { col =>
        val fld = schema.fields.find(_.name.equalsIgnoreCase(col)).getOrElse(
          throw new IllegalArgumentException(
            s"strawboat: bucket column '$col' not in ${schema.fieldNames.mkString(",")}"))
        require(graft.spark.StrawBucket.bucketable(fld.dataType),
          s"strawboat: bucket column '$col' has unbucketable type ${fld.dataType}")
        fld
      }
      require(n >= 1 && n <= 65536,
        s"strawboat: bucket count must be in [1, 65536], got $n")
      Map(graft.spark.StrawBucket.PropBucketBy -> flds.map(_.name).mkString(","),
        graft.spark.StrawBucket.PropBuckets -> n.toString)
    }.getOrElse(Map.empty)
    partitionBy.foreach { c =>
      val fld = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"strawboat: partition column '$c' not in ${schema.fieldNames.mkString(",")}"))
      require(StrawKeyedPartition.parseable(fld.dataType),
        s"strawboat: partition column '$c' has unsupported type ${fld.dataType} " +
          "(supported: string, int, long, short, byte, boolean)")
    }
    val props = properties.asScala.toMap
    props.get(TableCatalog.PROP_PROVIDER).foreach(p =>
      require(p.equalsIgnoreCase("strawboat"),
        s"strawboat: catalog '$catalogName' stores strawboat tables, not USING $p"))
    require(!props.contains(TableCatalog.PROP_LOCATION),
      "strawboat: LOCATION is not supported — tables live under the " +
        s"catalog warehouse; read external paths via spark.read.format(\"strawboat\")")
    val keep = (props -- Seq(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, "option.path")) ++ bucketProps

    // the sidecar doubles as the CREATE's atomic claim (create-if-absent):
    // two racing CREATE TABLEs serialize here — the loser sees the winner's
    // sidecar and fails with already-exists instead of double-bootstrapping
    val f = StrawIO.fs(dir)
    f.mkdirs(new Path(dir))
    try StrawTableSidecar.claim(dir, StrawTableSidecar(partitionBy, keep))
    catch {
      case _: java.io.IOException | _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new TableAlreadyExistsException(ident)
    }
    // a schema-only marker file makes the empty table self-describing (the
    // same shape a truncate-to-empty leaves behind), and the bootstrap log
    // commit starts the version history at the CREATE
    val fileName = s"part-empty-${UUID.randomUUID().toString.take(8)}${graft.format.StrawFormat.Extension}"
    val tmp = new Path(dir, s".$fileName.tmp")
    val os = f.create(tmp, true)
    var ok = false
    try { new StrawFileWriter(schema, WriteOptions()).writeTo(os); ok = true }
    finally {
      os.close()
      if (ok) {
        if (!f.rename(tmp, new Path(dir, fileName)))
          throw new java.io.IOException(s"strawboat: rename $tmp -> $fileName failed")
      } else f.delete(tmp, false)
    }
    val st = f.getFileStatus(new Path(dir, fileName))
    val meta = StrawIO.FileMeta(f.makeQualified(st.getPath).toString,
      st.getModificationTime, st.getLen)
    StrawLog.commit(dir, Seq(StrawLog.entryFor(meta)), op = "create")
    new StrawboatTable(dir, schema, partitionBy, propertiesArg = keep)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val cur = StrawTableSidecar.read(dir).getOrElse(StrawTableSidecar(Seq.empty, Map.empty))
    val next = changes.foldLeft(cur) {
      case (s, set: TableChange.SetProperty) =>
        s.copy(properties = s.properties + (set.property -> set.value))
      case (s, rm: TableChange.RemoveProperty) =>
        s.copy(properties = s.properties - rm.property)
      case (s, add: TableChange.AddColumn) => addColumn(ident, dir, add); s
      case (s, up: TableChange.UpdateColumnType) =>
        updateColumnType(ident, dir, up); s
      case (s, rn: TableChange.RenameColumn) => renameColumn(ident, dir, rn); s
      case (s, del: TableChange.DeleteColumn) => deleteColumn(ident, dir, del); s
      case (s, add: TableChange.AddConstraint) =>
        addCheckConstraint(dir, add.constraint()); s
      case (s, drop: TableChange.DropConstraint) =>
        try StrawConstraints.drop(dir, drop.name()): Unit
        catch { case e: IllegalArgumentException if drop.ifExists() => }
        s
      case (_, other) => throw new UnsupportedOperationException(
        s"strawboat: ALTER TABLE change not supported: $other")
    }
    StrawTableSidecar.write(dir, next)
    loadTable(ident)
  }

  /** Only enforced CHECK constraints are accepted — the one kind the
    * engine actually validates ([[StrawConstraints]]: existing rows checked
    * up front, every new-row write path gated). Informational PK/FK/UNIQUE
    * would be silently-unchecked metadata; refuse rather than pretend. */
  private def addCheckConstraint(dir: String,
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint): Unit =
    c match {
      case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(chk.enforced(),
          s"strawboat: NOT ENFORCED constraints are not supported (${c.name()})")
        StrawConstraints.add(org.apache.spark.sql.SparkSession.active, dir,
          chk.name(), chk.predicateSql()): Unit
      case other => throw new UnsupportedOperationException(
        s"strawboat: only CHECK constraints are supported, got ${other.toDDL}")
    }

  /** Columns a table's CHECK constraints reference — RENAME/DROP of one is
    * refused (the stored constraint SQL would stop binding), mirroring
    * Delta's restriction. */
  private def constraintColumns(dir: String): Set[String] = {
    val exprs = StrawLog.snapshot(dir).map(_.constraints.values.toSeq)
      .getOrElse(Seq.empty)
    val parser = org.apache.spark.sql.SparkSession.active.sessionState.sqlParser
    exprs.flatMap { sql =>
      parser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }
    }.toSet
  }

  private def partitionColumns(ident: Identifier): Set[String] =
    loadTable(ident).partitioning().flatMap(_.references()
      .flatMap(_.fieldNames().headOption)).toSet

  private def guardAlterable(ident: Identifier, dir: String, col: String,
      what: String): Unit = {
    // bucket first: the bucket transform also shows up in partitioning(),
    // and the hive-directory message would mislead for a bucket key
    require(!StrawBucket.specOf(dir).exists(s =>
      StrawBucket.colsOf(s._1).exists(_.equalsIgnoreCase(col))),
      s"strawboat: cannot $what bucket column '$col' — the hash-bucket " +
        "layout keys every data file on it (rewrite the table to rebucket)")
    require(!partitionColumns(ident).exists(_.equalsIgnoreCase(col)),
      s"strawboat: cannot $what partition column '$col' — the hive directory " +
        "layout spells it on disk")
    require(!constraintColumns(dir).exists(_.equalsIgnoreCase(col)),
      s"strawboat: cannot $what column '$col' — a CHECK constraint references " +
        "it; drop the constraint first")
  }

  /** `ALTER TABLE … RENAME COLUMN a TO b` — pure metadata: data files keep
    * their physical spellings, one column-mapping commit records
    * `old spelling -> new logical name`, and every read/write path
    * translates ([[ColumnMappingState]]). Zero data IO at any table size;
    * rewrites (compaction, row-level DML) materialize current spellings,
    * retiring aliases over time. */
  private def renameColumn(ident: Identifier, dir: String,
      rn: TableChange.RenameColumn): Unit = {
    val to = rn.newName
    require(!to.startsWith(ColumnMappingState.DroppedPrefix),
      s"strawboat: column name '$to' uses the reserved prefix " +
        ColumnMappingState.DroppedPrefix)
    // pin the version BEFORE any schema check: the commit conflicts on it,
    // so a concurrent commit (e.g. ADD COLUMN of the target name) between
    // check and commit cannot slip through
    val v0 = StrawLog.snapshot(dir).map(_.version).getOrElse(0L)
    val schema = loadTable(ident).schema()
    // resolve the (possibly dotted) path with the session's resolver
    // (case-insensitive under Spark's default) — the mapping algebra
    // operates on the RESOLVED logical path
    val (from, parentSt) = resolvePath(schema, rn.fieldNames.toSeq, "rename")
    val toPath = {
      val dot = from.lastIndexOf('.')
      if (dot < 0) to else from.substring(0, dot + 1) + to
    }
    require(!parentSt.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"strawboat: column '$toPath' already exists")
    guardAlterable(ident, dir, from, "rename")
    val cur = StrawLog.mappingAt(dir)
    val next = ColumnMappingState.rename(cur, from, toPath, s"@v${v0 + 1}")
    StrawLog.commit(dir, Seq.empty, op = s"rename column $from -> $toPath",
      mappingUpdate = Some((cur, next)), expectVersion = Some(v0)): Unit
  }

  /** `ALTER TABLE … DROP COLUMN c` — pure metadata: the column's physical
    * spellings join the mapping's dropped set and vanish from every read;
    * re-ADDing the name later gets a FRESH physical spelling, so old data
    * can never resurrect. */
  private def deleteColumn(ident: Identifier, dir: String,
      del: TableChange.DeleteColumn): Unit = {
    val v0 = StrawLog.snapshot(dir).map(_.version).getOrElse(0L)
    val schema = loadTable(ident).schema()
    val (name, parentSt) =
      try resolvePath(schema, del.fieldNames.toSeq, "drop")
      catch {
        case e: IllegalArgumentException
            if del.ifExists() && e.getMessage.contains("no column") => return
      }
    require(parentSt.fields.length > 1,
      if (name.contains('.'))
        s"strawboat: cannot drop '$name' — it is its struct's only field " +
          "(drop the struct column instead)"
      else s"strawboat: cannot drop the table's only column '$name'")
    guardAlterable(ident, dir, name, "drop")
    val cur = StrawLog.mappingAt(dir)
    val next = ColumnMappingState.drop(cur, name)
    StrawLog.commit(dir, Seq.empty, op = s"drop column $name",
      mappingUpdate = Some((cur, next)), expectVersion = Some(v0)): Unit
  }

  /** Resolve a (possibly dotted) field path against `schema` with the
    * session's resolver (case-insensitive under Spark's default), walking
    * STRUCT levels only. Returns the RESOLVED full path — what the mapping
    * algebra operates on — and the struct holding its leaf. Paths through
    * arrays/maps (whose elements the leaf layout addresses with synthetic
    * segments) are refused loudly. This is a FORMAT-design constraint —
    * the column-mapping keys are struct-path strings, and repeated levels
    * would need per-element identity the leaf layout does not carry — not
    * a Spark-version gate; no upstream change unlocks it. */
  private def resolvePath(schema: org.apache.spark.sql.types.StructType,
      fieldNames: Seq[String], what: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val resolver = org.apache.spark.sql.SparkSession.active
      .sessionState.conf.resolver
    var st = schema
    val resolved = Seq.newBuilder[String]
    var i = 0
    while (i < fieldNames.length) {
      val fld = st.fields.find(f => resolver(f.name, fieldNames(i))).getOrElse(
        throw new IllegalArgumentException(
          s"strawboat: no column '${fieldNames.mkString(".")}' to $what " +
            s"(at segment '${fieldNames(i)}'; available: " +
            s"${st.fieldNames.mkString(", ")})"))
      resolved += fld.name
      if (i < fieldNames.length - 1) {
        st = fld.dataType match {
          case s: org.apache.spark.sql.types.StructType => s
          case other => throw new UnsupportedOperationException(
            s"strawboat: cannot $what through '${fld.name}' of type " +
              s"${other.catalogString} — only struct fields are addressable " +
              "metadata-only (rewrite the table to restructure arrays/maps)")
        }
      }
      i += 1
    }
    (resolved.result().mkString("."), st)
  }

  /** `ALTER TABLE … ADD COLUMN c T` — pure metadata, the same machinery as
    * a mergeSchema append: one schema-only marker file carrying the WIDENED
    * schema joins the log, schema inference merges it in, and every
    * existing file null-fills the new column on read. No data is touched. */
  private def addColumn(ident: Identifier, dir: String,
      add: TableChange.AddColumn): Unit = {
    val parts = add.fieldNames.toSeq
    val dotted = parts.mkString(".")
    require(add.isNullable,
      s"strawboat: added column '$dotted' must be nullable — " +
        "existing rows read it as NULL")
    require(add.position() == null,
      "strawboat: ADD COLUMN FIRST/AFTER is not supported — new columns " +
        "append at the end of the schema")
    val leaf = parts.last
    require(!leaf.startsWith(ColumnMappingState.DroppedPrefix),
      s"strawboat: column name '$leaf' uses the reserved prefix " +
        ColumnMappingState.DroppedPrefix)
    val v0 = StrawLog.snapshot(dir).map(_.version).getOrElse(0L)
    val current = loadTable(ident).schema()
    // a NESTED add resolves its parent path (struct levels only) and
    // appends the field at the end of that struct: old files lack the
    // leaf and null-fill it on read via the nested-evolution reader
    val (parentPath: Seq[String], parentSt: StructType) =
      if (parts.length == 1) (Seq.empty[String], current)
      else {
        val (pp, holder) = resolvePath(current, parts.init, "add a column under")
        val parentLeaf = pp.split('.').last
        holder.fields.find(_.name == parentLeaf).get.dataType match {
          case s: StructType => (pp.split('.').toSeq, s)
          case other => throw new UnsupportedOperationException(
            s"strawboat: cannot add a field under '$pp' of type " +
              s"${other.catalogString} — only struct parents are " +
              "addressable metadata-only")
        }
      }
    require(!parentSt.fieldNames.exists(_.equalsIgnoreCase(leaf)),
      s"strawboat: column '$dotted' already exists")
    val fullPath = (parentPath :+ leaf).mkString(".")
    // re-ADD of a dropped/renamed-away spelling gets a FRESH physical name
    // so old files' dead data can never resurrect under the new column
    val curMap = StrawLog.mappingAt(dir)
    val spelling = ColumnMappingState.addSpelling(curMap, fullPath, s"@v${v0 + 1}")
    val nextMap = ColumnMappingState.add(curMap, fullPath, spelling)
    val newSchema = rebuildAt(current, parentPath, st =>
      StructType(st.fields :+ org.apache.spark.sql.types.StructField(
        leaf, add.dataType, nullable = true)))
    // the marker is a DATA FILE: its footer must carry physical spellings
    val meta = writeSchemaMarker(dir, nextMap.toPhysical(newSchema))
    StrawLog.commit(dir, Seq(StrawLog.entryFor(meta)),
      op = s"add column $fullPath", expectVersion = Some(v0),
      mappingUpdate =
        if (spelling.isDefined) Some((curMap, nextMap)) else None): Unit
  }

  /** Rebuild `schema` with `f` applied to the struct at resolved struct
    * path `parts` (empty = the top level). */
  private def rebuildAt(schema: StructType, parts: Seq[String],
      f: StructType => StructType): StructType =
    if (parts.isEmpty) f(schema)
    else StructType(schema.fields.map { fld =>
      if (fld.name == parts.head)
        fld.copy(dataType = rebuildAt(
          fld.dataType.asInstanceOf[StructType], parts.tail, f))
      else fld
    })

  /** `ALTER TABLE … ALTER COLUMN c TYPE T` — metadata-only LOSSLESS type
    * widening (int→long, float→double, the read path's own ladder): one
    * schema-only marker file carrying the column at the WIDER type joins
    * the log, schema inference merges it in, existing files decode native
    * and widen on read, and new writes bind at the wide type. Narrowing or
    * layout-changing conversions are refused — rewrite the table. */
  private def updateColumnType(ident: Identifier, dir: String,
      up: TableChange.UpdateColumnType): Unit = {
    // version pin BEFORE the schema check: any concurrent commit conflicts
    val v0 = StrawLog.snapshot(dir).map(_.version).getOrElse(0L)
    val current = loadTable(ident).schema()
    // resolves top-level AND nested struct paths (struct levels only)
    val (name, holder) = resolvePath(current, up.fieldNames.toSeq, "alter")
    val leaf = name.split('.').last
    val from = holder.fields.find(_.name == leaf).get.dataType
    val to = up.newDataType()
    if (from == to) return // idempotent no-op
    require(StrawSchemaResolver.widenable(from, to),
      s"strawboat: cannot alter column '$name' from $from to $to — only " +
        "lossless widenings (byte/short/int→wider integral, float→double) " +
        "are metadata-only; rewrite the table for anything else")
    require(!partitionColumns(ident).exists(_.equalsIgnoreCase(name)),
      s"strawboat: cannot alter type of partition column '$name' — the hive " +
        "directory layout spells its values on disk")
    val parentPath = name.split('.').toSeq.init
    val widened = rebuildAt(current, parentPath, st =>
      StructType(st.fields.map(f =>
        if (f.name == leaf) f.copy(dataType = to) else f)))
    val meta = writeSchemaMarker(dir, StrawLog.mappingAt(dir).toPhysical(widened))
    StrawLog.commit(dir, Seq(StrawLog.entryFor(meta)),
      op = s"alter column $name type $to", expectVersion = Some(v0)): Unit
  }

  /** Write a visible schema-only marker data file carrying `schema`
    * (PHYSICAL spellings) and return its meta. */
  private def writeSchemaMarker(dir: String,
      schema: StructType): StrawIO.FileMeta = {
    val f = StrawIO.fs(dir)
    val fileName =
      s"part-empty-${UUID.randomUUID().toString.take(8)}${graft.format.StrawFormat.Extension}"
    val tmp = new Path(dir, s".$fileName.tmp")
    val os = f.create(tmp, true)
    var ok = false
    try { new StrawFileWriter(schema, WriteOptions()).writeTo(os); ok = true }
    finally {
      os.close()
      if (ok) {
        if (!f.rename(tmp, new Path(dir, fileName)))
          throw new java.io.IOException(s"strawboat: rename $tmp -> $fileName failed")
      } else f.delete(tmp, false)
    }
    val st = f.getFileStatus(new Path(dir, fileName))
    StrawIO.FileMeta(f.makeQualified(st.getPath).toString,
      st.getModificationTime, st.getLen)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) return false
    StrawLog.invalidate(dir)
    StrawIO.fs(dir).delete(new Path(dir), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    val to = dirOf(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    val f = StrawIO.fs(from)
    f.mkdirs(new Path(to).getParent)
    StrawLog.invalidate(from)
    if (!f.rename(new Path(from), new Path(to)))
      throw new java.io.IOException(s"strawboat: rename $from -> $to failed")
  }

  override def invalidateTable(ident: Identifier): Unit =
    StrawLog.invalidate(dirOf(ident))

  /** The directory a catalog identifier maps to — the bridge the `straw_*`
    * table functions use to accept identifiers in place of paths. */
  private[spark] def tableDir(ident: Identifier): String = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    dir
  }

  // -------------------------------------------------------------------------
  // SupportsNamespaces — namespaces are directories
  // -------------------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = dirOf(namespace)
    val f = StrawIO.fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) {
      if (namespace.isEmpty) return Array.empty
      throw new NoSuchNamespaceException(namespace)
    }
    f.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .filterNot(n => isTable(s"$dir/$n"))
      .map(n => namespace :+ n)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = dirOf(namespace)
      StrawIO.fs(dir).exists(new Path(dir)) && !isTable(dir)
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val dir = dirOf(namespace)
    StrawIO.fs(dir).mkdirs(new Path(dir)): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "strawboat: namespaces carry no alterable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val dir = dirOf(namespace)
    val f = StrawIO.fs(dir)
    if (!cascade && (listTables(namespace).nonEmpty || listNamespaces(namespace).nonEmpty))
      throw new IllegalStateException(
        s"strawboat: namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    f.delete(new Path(dir), true)
  }
}

/** The catalog's per-table sidecar (`_straw_table.json`): partition columns
  * and table properties — metadata the data files cannot carry (an empty
  * partitioned table has no `col=value` directories to infer from). Format:
  * one flat JSON object, hand-rolled (no JSON dependency).
  */
final case class StrawTableSidecar(partitionBy: Seq[String],
    properties: Map[String, String])

object StrawTableSidecar {
  val FileName = "_straw_table.json"

  private def esc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def render(s: StrawTableSidecar): String =
    "{\"partitionBy\":[" +
      s.partitionBy.map(esc).mkString(",") + "],\"properties\":{" +
      s.properties.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString(",") + "}}"

  /** Overwrite-in-place (ALTER TABLE property updates). The sidecar lives
    * on the raw file system (no `.crc`, as the log's files do). There, on
    * `file:`, rename is one `rename(2)`: a concurrent [[read]] sees the old
    * or the new sidecar, never none, and no checksum of an older version
    * can fail it. A store whose rename refuses to replace an existing file
    * (HDFS) falls back to delete-then-rename. */
  def write(dir: String, s: StrawTableSidecar): Unit = {
    val f = StrawLog.rawFs(dir)
    val tmp = new Path(dir, s".$FileName.${java.util.UUID.randomUUID()}.tmp")
    val os = f.create(tmp, true)
    try os.write(render(s).getBytes("UTF-8")) finally os.close()
    val dst = new Path(dir, FileName)
    if (!f.rename(tmp, dst) && !(f.delete(dst, false) && f.rename(tmp, dst))) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"strawboat: rename $tmp -> $dst failed")
    }
  }

  /** Create-if-absent (the CREATE TABLE claim): throws when the sidecar
    * already exists. Rides the log's pluggable claim primitive — atomic
    * hard link on `file:` (Hadoop's `create(overwrite=false)` is
    * check-then-act there), non-overwriting rename + verify elsewhere —
    * so racing creators serialize exactly like racing commits. */
  def claim(dir: String, s: StrawTableSidecar): Unit = {
    val f = StrawLog.rawFs(dir)
    val json = render(s)
    val tmp = new Path(dir,
      s".$FileName.claim-${java.util.UUID.randomUUID().toString.take(8)}")
    val os = f.create(tmp, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
    if (!StrawLog.claim(f, tmp, new Path(dir, FileName), json))
      throw new java.io.IOException(
        s"strawboat: $dir is already claimed by another table")
  }

  def read(dir: String): Option[StrawTableSidecar] = {
    val f = StrawLog.rawFs(dir)
    val p = new Path(dir, FileName)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val raw = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
    Some(parse(raw))
  }

  /** Minimal parser for exactly the flat shape [[write]] emits. */
  private[spark] def parse(raw: String): StrawTableSidecar = {
    // tokenize strings honoring escapes, then read the two known sections
    val strings = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    var i = 0
    while (i < raw.length) {
      if (raw.charAt(i) == '"') {
        val start = i
        val sb = new StringBuilder
        i += 1
        while (raw.charAt(i) != '"') {
          if (raw.charAt(i) == '\\') {
            i += 1
            raw.charAt(i) match {
              case 'n' => sb.append('\n')
              case 'u' => sb.append(Integer.parseInt(raw.substring(i + 1, i + 5), 16).toChar); i += 4
              case c => sb.append(c)
            }
          } else sb.append(raw.charAt(i))
          i += 1
        }
        strings += ((start, sb.toString))
      }
      i += 1
    }
    val partStart = raw.indexOf("\"partitionBy\"")
    val propStart = raw.indexOf("\"properties\"")
    require(partStart >= 0 && propStart >= 0,
      s"strawboat: malformed $FileName: $raw")
    val partEnd = raw.indexOf(']', partStart)
    val parts = strings.filter { case (pos, _) => pos > partStart + 13 && pos < partEnd }
      .map(_._2).toSeq
    val propStrings = strings.filter(_._1 > propStart + 12).map(_._2)
    require(propStrings.length % 2 == 0, s"strawboat: malformed $FileName: $raw")
    StrawTableSidecar(parts,
      propStrings.grouped(2).map(g => (g(0): String, g(1): String)).toMap)
  }
}
