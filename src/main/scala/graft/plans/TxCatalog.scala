package graft.plans

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.TxLog

/** Named-table CATALOG over transaction-log tables — the DeltaCatalog-
  * shaped integration step: tables get NAMES instead of paths, so the
  * whole SQL surface works name-addressed:
  *
  * {{{
  *   spark.sql.catalog.gcat      = graft.plans.TxCatalog
  *   spark.sql.catalog.gcat.root = /warehouse/graft   // the metastore dir
  *
  *   CREATE NAMESPACE gcat.sales
  *   CREATE TABLE gcat.sales.orders USING txlog LOCATION '/data/orders'
  *   CREATE TABLE gcat.sales.t2 USING txlog PARTITIONED BY (part)
  *     AS SELECT ...                          -- CTAS (location defaulted)
  *   SHOW TABLES IN gcat.sales
  *   SELECT * FROM gcat.sales.orders [VERSION AS OF n]
  *   INSERT INTO gcat.sales.orders SELECT ...
  *   MERGE INTO gcat.sales.orders t USING src s ON ... / UPDATE / DELETE
  *   ALTER TABLE gcat.sales.orders RENAME COLUMN a TO b
  * }}}
  *
  * The METASTORE is one tiny pointer file per table
  * (`<root>/<ns...>/<table>.tbl`: location + partition columns) —
  * namespaces are directories; the table STATE lives entirely in the
  * table's own transaction log, so the path surface (txlog.`/data/
  * orders`, [[TxPathCatalog]]) and the name surface address the SAME
  * state and can be used interchangeably. Schema is RECORDED FROM DATA
  * at the first transactional write (the engine's schema-from-data
  * stance) — CREATE TABLE registers the pointer; a declared column list
  * is accepted (CTAS passes the query's) but the log's recorded schema is
  * authoritative. DROP TABLE unregisters the pointer and leaves the data
  * (external-table semantics; the log IS the table). MERGE / UPDATE /
  * DELETE resolve through Spark's grammar and [[TxDmlRule]]. */
class TxCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {

  protected var catName: String = _
  private var rootDir: String = _

  protected def spark: SparkSession = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    rootDir = Option(options.get("root")).getOrElse(sys.error(
      s"TxCatalog [$name]: set spark.sql.catalog.$name.root to the " +
        "metastore directory"))
    val p = new Path(rootDir)
    fs(p).mkdirs(p): Unit
  }

  override def name(): String = catName

  private def nsDir(namespace: Array[String]): Path =
    new Path((rootDir +: namespace.toSeq).mkString("/"))

  private def tblFile(ident: Identifier): Path =
    new Path(nsDir(ident.namespace), s"${ident.name}.tbl")

  // ---- the pointer: the one place a NAME becomes a table root --------
  // ([[TxPathCatalog]] replaces these three with the identity)

  /** (location, partition columns) of a registered table; None when the
    * name is unregistered. Pointer-file codec: line 1 = location, line 2
    * = partition columns (comma-joined; empty until known). */
  protected def pointer(ident: Identifier): Option[(String, Seq[String])] = {
    val f = tblFile(ident)
    if (!fs(f).exists(f)) None
    else {
      val in = fs(f).open(f)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      val lines = txt.split("\n", -1)
      Some((lines(0), if (lines.length > 1 && lines(1).nonEmpty)
        lines(1).split(",").toSeq else Seq.empty))
    }
  }

  /** Bind an unbound name to its location (a racing bind fails). */
  protected def bind(ident: Identifier, location: String,
                     partCols: Seq[String]): Unit = {
    val f = tblFile(ident)
    val out = fs(f).create(f, false)
    try out.write(s"$location\n${partCols.mkString(",")}\n"
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Unbind a name (the data stays). */
  protected def unbind(ident: Identifier): Boolean = {
    val f = tblFile(ident)
    fs(f).exists(f) && fs(f).delete(f, false)
  }

  /** Where a CREATE / REPLACE puts the table: the declared LOCATION, the
    * name's current binding, or a default under the metastore root. */
  protected def locationFor(ident: Identifier,
                            properties: util.Map[String, String]): String =
    Option(properties.get(TableCatalog.PROP_LOCATION))
      .orElse(pointer(ident).map(_._1))
      .getOrElse(s"$rootDir/_data/${(ident.namespace :+ ident.name)
        .mkString("/")}")

  private def bound(ident: Identifier): (String, Seq[String]) =
    pointer(ident).getOrElse(throw new NoSuchTableException(ident))

  private def table(ident: Identifier, location: String,
                    partCols: Seq[String], declared: StructType,
                    asOfVersion: Option[Long] = None): TxNamedTable =
    new TxNamedTable(catName +: ident.namespace.toSeq :+ ident.name,
      location, partCols, declared, asOfVersion)

  /** The registered location of a catalog table — the bridge the
    * maintenance statements ([[GraftSqlParser]]) use to route
    * name-addressed statements to the same front doors as the path
    * surface. */
  def locationOf(ident: Identifier): String = bound(ident)._1

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!fs(d).exists(d)) throw new NoSuchNamespaceException(namespace)
    fs(d).listStatus(d).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".tbl"))
      .map(st => Identifier.of(namespace,
        st.getPath.getName.stripSuffix(".tbl")))
  }

  override def tableExists(ident: Identifier): Boolean =
    pointer(ident).isDefined

  override def loadTable(ident: Identifier): Table = {
    val (location, partCols) = bound(ident)
    table(ident, location, partCols, new StructType())
  }

  /** `SELECT ... FROM cat.ns.t VERSION AS OF n` — Spark's native
    * time-travel resolution calls this overload; the returned table pins
    * the version and [[graft.streaming.TxBatchReadRule]] mounts
    * readTableAt. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (location, partCols) = bound(ident)
    val v = try version.toLong catch { case _: NumberFormatException =>
      sys.error(s"TxCatalog: VERSION AS OF needs an integer version, " +
        s"got [$version]") }
    table(ident, location, partCols, new StructType(), Some(v))
  }

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val (location, partCols) = bound(ident)
    val v = TxLog.versionAsOf(spark, location,
      Math.floorDiv(timestamp, 1000L))
    table(ident, location, partCols, new StructType(), Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    // identity-transform partitioning only (the layout the log records)
    val partCols = identityCols(partitions)
    val location = locationFor(ident, properties)
    // registering an EXISTING txlog table: its recorded partitioning is
    // authoritative — a conflicting PARTITIONED BY must refuse
    val recorded: Seq[String] =
      if (TxLog.tableExists(spark, location))
        TxLog.tableMeta(spark, location)._2.map(_.name).toSeq
      else Seq.empty
    require(recorded.isEmpty || partCols.isEmpty || partCols == recorded,
      s"TxCatalog: PARTITIONED BY [${partCols.mkString(", ")}] does not " +
        s"match the table's recorded partitioning " +
        s"[${recorded.mkString(", ")}] at $location")
    val effective = if (recorded.nonEmpty) recorded else partCols
    bind(ident, location, effective)
    // user-declared TBLPROPERTIES (Spark reserves the bookkeeping keys)
    val userProps = userPropsOf(properties)
    if (TxLog.tableExists(spark, location)) {
      // registering an EXISTING table: properties merge transactionally
      if (userProps.nonEmpty)
        TxLog.setTablePropertiesTx(spark, location, userProps): Unit
    } else if (schema.nonEmpty && effective.nonEmpty) {
      // a DECLARED schema becomes the table's CREATE COMMIT (the Delta
      // shape): the empty table reads with its declared columns,
      // DESCRIBE/ADD COLUMN work before any data lands, and properties
      // ride the same commit. CTAS passes its query schema through here
      // — the data write that follows matches it exactly. (A tx table
      // is always partitioned, so the commit needs PARTITIONED BY too;
      // a schema-only declaration keeps the old ride-until-first-write
      // behavior.)
      TxLog.createTableTx(spark, location, schema, effective,
        userProps): Unit
    } else require(userProps.isEmpty,
      "TxCatalog: TBLPROPERTIES on a brand-new table need a declared " +
        "schema + PARTITIONED BY (the properties ride the create " +
        "commit) — declare them or create the data first")
    table(ident, location, effective, schema)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val location = locationOf(ident)
    // AddColumns arrive as a batch (one ALTER TABLE ADD COLUMNS (...)
    // statement = N changes) — commit them as ONE metadata commit
    val adds = changes.collect { case ac: TableChange.AddColumn => ac }
    adds.foreach { ac =>
      require(ac.fieldNames().length == 1,
        "TxCatalog: nested column adds are not supported")
      require(ac.position() == null,
        "TxCatalog: ADD COLUMN ... FIRST/AFTER is not supported — new " +
          "columns append (the recorded order is the table's contract)")
      require(ac.isNullable,
        "TxCatalog: added columns must be nullable — existing rows " +
          "NULL-backfill them")
    }
    if (adds.nonEmpty)
      TxLog.addColumnsTx(spark, location,
        adds.map(ac => ac.fieldNames()(0) -> ac.dataType()).toSeq): Unit
    // SetProperty/RemoveProperty arrive as a batch too (one SET
    // TBLPROPERTIES statement = N changes) — ONE metadata commit each way
    val sets = changes.collect { case sp: TableChange.SetProperty => sp }
    if (sets.nonEmpty)
      TxLog.setTablePropertiesTx(spark, location,
        sets.map(sp => sp.property() -> sp.value()).toMap): Unit
    val unsets = changes.collect {
      case rp: TableChange.RemoveProperty => rp.property() }
    if (unsets.nonEmpty)
      TxLog.unsetTablePropertiesTx(spark, location, unsets): Unit
    changes.foreach {
      case _: TableChange.AddColumn => () // committed above, as one batch
      case _: TableChange.SetProperty => ()    // committed above
      case _: TableChange.RemoveProperty => () // committed above
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames().length == 1,
          "TxCatalog: nested column renames are not supported")
        TxLog.renameColumnTx(spark, location, rc.fieldNames()(0),
          rc.newName()): Unit
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames().length == 1,
          "TxCatalog: nested column drops are not supported")
        TxLog.dropColumnTx(spark, location, dc.fieldNames()(0)): Unit
      case other => sys.error(s"TxCatalog: unsupported ALTER TABLE " +
        s"change $other — ADD COLUMN, RENAME COLUMN, DROP COLUMN and " +
        "SET/UNSET TBLPROPERTIES (plus ADD/DROP CONSTRAINT, served by " +
        "graft's SQL parser) are supported")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = unbind(ident)

  /** `DROP TABLE ... PURGE` — the managed-lifecycle exit: unregister the
    * NAME first (no half-dropped binding), then reclaim the table's
    * whole location (log + data). Plain DROP keeps the external-table
    * posture (pointer only); PURGE is the caller saying the data goes
    * too. */
  override def purgeTable(ident: Identifier): Boolean =
    pointer(ident).exists { case (location, _) =>
      unbind(ident): Unit
      val p = new Path(location)
      fs(p).delete(p, true): Unit
      true
    }

  // ---- staging (atomic CTAS / REPLACE TABLE / CREATE OR REPLACE) -------
  //
  // Implementing StagingTableCatalog routes Spark's CTAS and REPLACE
  // plans through the Atomic*Exec variants. The atomicity UNIT here is
  // the transaction log itself: a replace is ONE TxLog.replaceTableTx
  // commit (readers flip old→new atomically under both addresses), so
  // the staged tables carry no shadow copy — commitStagedChanges binds
  // the NAME, the txlog commit already bound the STATE. Without this,
  // Spark's non-atomic fallback (dropTable → createTable → append)
  // would re-register the old location and MERGE the old rows into the
  // replacement — the exact hazard the staged replace exists to prevent.

  private def identityCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      t.references() match {
        case Array(r) if t.name() == "identity" =>
          r.fieldNames().mkString(".")
        case _ => sys.error(s"TxCatalog: only identity PARTITIONED BY " +
          s"columns are supported, got $t")
      }
    }

  private def userPropsOf(properties: util.Map[String, String])
      : Map[String, String] = {
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    properties.asScala.toMap -- reserved
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : StagedTable = {
    // CTAS: reuse createTable wholesale — the pointer and (with a
    // declared schema) the create commit land eagerly, the data write
    // is its own transactional commit; abort unbinds the NAME
    val t = createTable(ident, schema, partitions, properties)
      .asInstanceOf[TxNamedTable]
    new TxStagedCreateTable(t, () => { unbind(ident): Unit })
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stagedReplace(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : StagedTable =
    stagedReplace(ident, schema, partitions, properties)

  private def stagedReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : StagedTable = {
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    val declared = identityCols(partitions)
    val location = locationFor(ident, properties)
    // one partitioning per location: REPLACE keeps the recorded layout
    // (or adopts the declared one on a fresh location)
    val recorded: Seq[String] =
      if (TxLog.tableExists(spark, location))
        TxLog.tableMeta(spark, location)._2.map(_.name).toSeq
      else Seq.empty
    val effective = if (declared.nonEmpty) declared else recorded
    require(effective.nonEmpty, s"TxCatalog REPLACE [$ident]: declare " +
      "PARTITIONED BY (a tx table is always partitioned)")
    require(recorded.isEmpty || effective == recorded,
      s"TxCatalog REPLACE [$ident]: PARTITIONED BY " +
        s"[${effective.mkString(", ")}] does not match the recorded " +
        s"partitioning [${recorded.mkString(", ")}] at $location — a " +
        "location has ONE partitioning; rebuild at a new location to " +
        "change it")
    new TxStagedReplaceTable(table(ident, location, effective, schema).name(),
      location, effective, schema, userPropsOf(properties),
      commitPointer = () => {
        unbind(ident): Unit
        bind(ident, location, effective)
      })
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = tblFile(oldIdent)
    if (!fs(from).exists(from)) throw new NoSuchTableException(oldIdent)
    val to = tblFile(newIdent)
    if (fs(to).exists(to)) throw new TableAlreadyExistsException(newIdent)
    require(fs(from).rename(from, to),
      s"TxCatalog: rename $from -> $to failed")
  }

  // ---- namespaces (directories under the metastore root) ---------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(rootDir)
    fs(root).listStatus(root).filter(st => st.isDirectory &&
        st.getPath.getName != "_data")
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = nsDir(namespace)
    if (!fs(d).exists(d)) throw new NoSuchNamespaceException(namespace)
    fs(d).listStatus(d).filter(_.isDirectory)
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = nsDir(namespace)
    namespace.isEmpty || fs(d).exists(d)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    fs(d).mkdirs(d): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    sys.error("TxCatalog: namespace metadata is not supported")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!fs(d).exists(d)) throw new NoSuchNamespaceException(namespace)
    if (!cascade)
      require(fs(d).listStatus(d).isEmpty,
        s"TxCatalog: namespace [${namespace.mkString(".")}] is not empty")
    fs(d).delete(d, cascade)
  }
}

/** The PATH surface as a catalog — registered as `txlog` by
  * [[graft.Sessions.builder]], so ``txlog.`/root``` resolves through
  * Spark's own `ResolveRelations` like `cat.ns.tbl`:
  *
  * {{{
  *   SELECT * FROM txlog.`/root` [VERSION AS OF n]
  *   INSERT INTO txlog.`/root` SELECT ...
  *   MERGE INTO txlog.`/root` USING src ON ... / UPDATE / DELETE
  *   ALTER TABLE txlog.`/root` ADD COLUMNS (...) | RENAME COLUMN | ...
  *   CREATE [OR REPLACE] TABLE txlog.`/root` (cols) PARTITIONED BY (p)
  *   CREATE TABLE txlog.`/root` PARTITIONED BY (p) AS SELECT ...
  * }}}
  *
  * It is [[TxCatalog]] with the pointer replaced by the identity: the
  * identifier IS the table root, a table exists iff its log does, and
  * there is no name to bind, unbind, rename or list. Being a catalog
  * name, `txlog` shadows a `spark_catalog` database called `txlog`. */
class TxPathCatalog extends TxCatalog {
  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(s"txlog path catalog: $what " +
      "— a path table is addressed by its root, not registered by name")

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catName = name

  override protected def pointer(ident: Identifier)
      : Option[(String, Seq[String])] =
    if (ident.namespace.isEmpty && TxLog.tableExists(spark, ident.name))
      Some((ident.name, Seq.empty)) // TxNamedTable reads the recorded set
    else None

  override protected def bind(ident: Identifier, location: String,
                              partCols: Seq[String]): Unit = ()

  override protected def unbind(ident: Identifier): Boolean = false

  override protected def locationFor(ident: Identifier,
      properties: util.Map[String, String]): String = {
    require(properties.get(TableCatalog.PROP_LOCATION) == null,
      s"txlog.`${ident.name}`: a path table lives at its root — LOCATION " +
        "is for named catalogs")
    ident.name
  }

  /** A path table has no pointer to ride until the first write: its
    * create commit must record the declared schema and partitioning. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(schema.nonEmpty && partitions.nonEmpty,
      s"CREATE TABLE txlog.`${ident.name}` needs a declared column list " +
        "(or AS <query>) and PARTITIONED BY — the create commit records " +
        "both; to adopt existing data use CONVERT TO TXLOG")
    super.createTable(ident, schema, partitions, properties)
  }

  override def dropTable(ident: Identifier): Boolean = refuse("DROP TABLE")
  override def purgeTable(ident: Identifier): Boolean = refuse("DROP TABLE")
  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = refuse("RENAME")
  override def listTables(namespace: Array[String]): Array[Identifier] =
    refuse("SHOW TABLES")
  override def listNamespaces(): Array[Array[String]] = Array.empty
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) Array.empty
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    refuse("CREATE NAMESPACE")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    refuse("DROP NAMESPACE")
}

/** A catalog-loaded table: BATCH_READ resolves through
  * [[graft.streaming.TxBatchReadRule]] to the full readTable plan
  * (mapping projection, dv anti-join, TxFileIndex pruning — identical
  * to the path surface); BATCH_WRITE bridges through a [[V1Write]] to
  * the SAME transactional front doors (`INSERT INTO` = one append
  * commit, `INSERT OVERWRITE` / truncate = the atomic full-table
  * replace). The schema is the log's LOGICAL schema (renames applied,
  * tombstones dropped) plus partition columns; a not-yet-written table
  * reports its declared (CTAS) schema until the first write records the
  * real one. */
private[graft] final class TxNamedTable(nameParts: Seq[String],
                                        val root: String,
                                        val partCols: Seq[String],
                                        declared: StructType,
                                        val asOfVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.graftbridge.V1FallbackBridge {

  /** `df.writeStream.format("txlog").toTable("cat.ns.t")` — the NAME
    * surface of the STREAMING SINK. This table does not advertise
    * STREAMING_WRITE (the ledgered sink is a V1 `Sink` whose per-batch
    * commit IS the table's own replay protocol — a row-level V2
    * StreamingWrite would be a parallel write path); Spark's
    * DataStreamWriter falls back through this CatalogTable instead,
    * reading `provider` + `location` and routing to
    * [[graft.streaming.TxSourceProvider.createSink]] — exactly the
    * path-addressed `.start(root)` sink, so Append/Complete/Update
    * semantics, the writer-seq exactly-once ledger, and cold restarts
    * behave identically under both addresses. (Spark requires the
    * writer's `.format("txlog")` to match the provider here.) */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    // a path table has no namespace, and a v1 identifier names its
    // catalog only under a database
    val db = Some(nameParts.drop(1).dropRight(1).mkString("."))
      .filter(_.nonEmpty)
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        nameParts.last, db, db.flatMap(_ => nameParts.headOption)),
      tableType =
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat
        .empty.copy(locationUri =
          Some(new org.apache.hadoop.fs.Path(root).toUri)),
      schema = schema(),
      provider = Some("txlog"),
      partitionColumnNames = partCols)
  }

  private def spark: SparkSession = SparkSession.active

  override def name(): String = nameParts.map(p =>
    if (p.matches("\\w+")) p else s"`${p.replace("`", "``")}`").mkString(".")

  override def schema(): StructType =
    if (asOfVersion.isDefined)
      TxLog.readTableAt(spark, root, asOfVersion.get).schema
    else if (TxLog.tableExists(spark, root)) {
      // a created-but-still-empty table serves the DECLARED column order
      // so the creating statement's own write (CTAS / writerV2 create)
      // resolves positionally against the schema it declared — the first
      // data commit flips reads to the table's recorded
      // data-then-partition order, exactly as before the create commit
      // existed
      if (declared.nonEmpty && !TxLog.hasData(spark, root)) declared
      else TxLog.readTable(spark, root).schema
    } else declared

  /** The table's recorded PARTITIONING as DSv2 metadata — what `SHOW
    * CREATE TABLE` renders as PARTITIONED BY and what DSv2-aware
    * planning sees (a tx table's layout is always identity transforms
    * of its partition columns). */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val cols =
      if (partCols.nonEmpty) partCols
      else if (TxLog.tableExists(spark, root))
        TxLog.tableMeta(spark, root)._2.map(_.name).toSeq
      else Seq.empty
    cols.map(org.apache.spark.sql.connector.expressions.Expressions
      .identity).toArray
  }

  /** `TRUNCATE TABLE cat.ns.t` — a metadata-only drop of every live
    * partition (ONE "remove" commit; the schema and the history stay,
    * so the empty table reads its columns and time travel crosses the
    * truncate; [[TxLog.vacuum]] reclaims the files later). */
  override def truncateTable(): Boolean = {
    TxLog.dropPartitionsWhereTx(spark, root, _ => false): Unit
    true
  }

  /** The table's RECORDED properties ([[TxLog.setTablePropertiesTx]]) —
    * what `SHOW TBLPROPERTIES cat.ns.t` renders. */
  override def properties(): util.Map[String, String] =
    (if (TxLog.tableExists(spark, root))
       TxLog.tableProperties(spark, root)
     else Map.empty[String, String]).asJava

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.V1_BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType = schema()
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        sys.error("txlog catalog read requires the graft extensions " +
          "(SparkSession.builder().withExtensions(new " +
          "graft.plans.GraftExtensions)) — a bare scan would bypass the " +
          "table's column mapping and deletion vectors")
      // `spark.readStream.table("cat.ns.t")` — the NAME surface of the
      // streaming source: delegate to the path surface's micro-batch
      // stream (same offsets-are-log-versions contract, same options:
      // startingVersion/startingTimestamp/skipNonAppend). CDF-by-name
      // (readChangeFeed) is rewritten by TxBatchReadRule BEFORE this
      // point (the relation must carry the change columns, which
      // loadTable's option-blind schema cannot); reaching here with the
      // option set means the extensions are missing — refuse loudly
      // rather than hand TxCdfMicroBatchStream a schema whose trailing
      // fields are NOT the change columns (it would misalign the
      // partition decode)
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
        require(!Option(options.get("readChangeFeed")).exists(_.toBoolean),
          "txlog catalog CDF stream requires the graft extensions " +
            "(SparkSession.builder().withExtensions(new " +
            "graft.plans.GraftExtensions)) — without the rewrite the " +
            "declared schema lacks _change_type/_commit_version")
        new graft.streaming.TxStreamTable(schema(), root)
          .newScanBuilder(options).build()
          .toMicroBatchStream(checkpointLocation)
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           overwrite: Boolean) => {
            val s = data.sparkSession
            val cols =
              if (TxLog.tableExists(s, root))
                TxLog.tableMeta(s, root)._2.map(_.name).toSeq
              else {
                require(partCols.nonEmpty, s"txlog catalog [${name()}]: " +
                  "the first write creates the table — declare " +
                  "PARTITIONED BY at CREATE TABLE time")
                partCols
              }
            if (replace || overwrite)
              TxLog.overwriteTableTx(data.toDF(), root, cols): Unit
            else
              TxLog.commit(s, root,
                TxLog.stage(data.toDF(), root, cols, Nil, 0), "append",
                readVersion = 0L): Unit
          }
      }
    }
}

/** Staged CTAS table ([[TxCatalog.stageCreate]]): delegates everything
  * to the eagerly-created [[TxNamedTable]] — the data write is its own
  * transactional commit — and unbinds the NAME on abort (the txlog
  * state, if any landed, stays addressable by path; external-table
  * posture, same as DROP TABLE). */
private final class TxStagedCreateTable(t: TxNamedTable,
                                        onAbort: () => Unit)
    extends StagedTable with SupportsWrite {
  override def name(): String = t.name()
  override def schema(): StructType = t.schema()
  override def properties(): util.Map[String, String] = t.properties()
  override def capabilities(): util.Set[TableCapability] = t.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    t.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = () // pointer already bound
  override def abortStagedChanges(): Unit = onAbort()
}

/** Staged REPLACE table ([[TxCatalog.stageReplace]] /
  * `stageCreateOrReplace`): the query's write routes to
  * [[TxLog.replaceTableTx]] — ONE whole-table-state commit superseding
  * data, mapping, constraints and properties together — and
  * `commitStagedChanges` (re)binds the pointer. A plain `REPLACE TABLE
  * (cols)` (no AS SELECT) arrives with no write: commit records the
  * declared-schema-only replacement (zero rows, new columns). Abort is
  * a no-op by design: replaceTableTx either committed (the table IS
  * replaced — the log, not the pointer, is the state) or didn't (no
  * trace beyond discarded staging). */
private final class TxStagedReplaceTable(tableName: String,
                                         location: String,
                                         partCols: Seq[String],
                                         declared: StructType,
                                         userProps: Map[String, String],
                                         commitPointer: () => Unit)
    extends StagedTable with SupportsWrite {
  @volatile private var wrote = false

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.V1_BATCH_WRITE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // replace replaces
      override def build(): Write = new V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Boolean) => {
            TxLog.replaceTableTx(data.toDF(), location, partCols,
              userProps): Unit
            wrote = true
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    if (!wrote) {
      // REPLACE TABLE (cols) with no query: declared-schema-only
      val empty = spark.createDataFrame(
        util.Collections.emptyList[org.apache.spark.sql.Row](), declared)
      TxLog.replaceTableTx(empty, location, partCols, userProps): Unit
    }
    commitPointer()
  }

  override def abortStagedChanges(): Unit = ()
}
