package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.functions.{col, lit}

/** THE SQL CATALOG FACE of the version chain — a DSv2 `TableCatalog`
  * that exposes chain roots as real SQL tables, so an analyst speaks
  * plain Spark SQL with ZERO engine-specific API:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     classOf[graft.sources.GraftCatalog].getName)
  *   GraftCatalog.registerTable("db.docs", root)        // or catalog
  *                                                      // options
  *   spark.sql("SELECT lang, count(*) FROM graft.db.docs GROUP BY 1")
  *   spark.sql("SELECT * FROM graft.db.docs VERSION AS OF 3")
  *   spark.sql("SELECT * FROM graft.db.docs VERSION AS OF 'train-v1'")
  *   spark.sql("SELECT * FROM graft.db.docs TIMESTAMP AS OF '...'")
  *   spark.sql("INSERT INTO graft.db.docs SELECT ...")
  *   spark.sql("INSERT OVERWRITE graft.db.docs SELECT ...")
  *   spark.sql("DELETE FROM graft.db.docs WHERE doc_id % 7 = 3")
  * }}}
  *
  * Reads are a REAL DSv2 scan, not a view trick: one input partition
  * per committed data file (the manifest's driver-bounded file list),
  * an executor-side reader that masks the version's deletion-vector
  * positions and equality-delete keys per row (the sidecars ride to
  * every task — they are sized by deleted rows, the same bound
  * [[ManifestPrune.applyDv]]'s broadcast anti-join assumes), and
  * column pruning pushed into the reader (fields decode by name; an
  * unprojected column is never materialized). Version resolution
  * happens at `loadTable` — one snapshot per query, Iceberg's
  * per-scan isolation.
  *
  * Writes ride the public V1Write bridge (the JDBC connector's
  * shape): INSERT INTO → [[ManifestPrune.appendCommit]], INSERT
  * OVERWRITE → [[ManifestPrune.replaceCommit]]; DELETE WHERE
  * translates the pushed filters to a predicate and commits a
  * merge-on-read [[ManifestPrune.dvDeleteWhereCommit]] — pure
  * metadata + sidecar, no data file rewritten. Everything lands on
  * the same CAS chain as the Scala API, so SQL and API writers
  * interleave safely. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName: String = "graft"

  /** Durable-registration root (catalog option `warehouse`): table
    * registrations persist as tiny `_catalog/<db>.<t>` objects under
    * it (CAS-created, so CREATE TABLE is exclusive across processes),
    * and a FRESH session resolves `graft.db.t` from disk without any
    * re-registration — the piece that makes the catalog a catalog,
    * not a process-local map. CREATE TABLE without LOCATION also
    * derives its chain root here (`<warehouse>/<db>/<t>`). */
  private var warehouse: Option[String] = None

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
    // static registration: spark.sql.catalog.<name>.table.<db>.<t> = root
    options.entrySet().forEach { e =>
      val k = e.getKey
      if (k.startsWith("table."))
        GraftCatalog.registerTable(k.stripPrefix("table."), e.getValue)
    }
  }

  override def name(): String = catName

  override def capabilities()
      : java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def qualified(ident: Identifier): String =
    (ident.namespace.toSeq :+ ident.name).mkString(".")

  private def durableEntry(q: String): String =
    s"${warehouse.get}/_catalog/$q"

  /** Disk-backed lookup fallback: a hit warms the in-memory map, so a
    * fresh session pays the read once per table. */
  private def durableLookup(q: String): Option[(String, String)] =
    warehouse.flatMap { _ =>
      val p = durableEntry(q)
      val st = ChainStorage.forPath(p)
      if (!st.isFile(p)) None
      else {
        val lines = st.read(p).linesIterator.toSeq
        val root = lines.head.trim
        val key = lines.drop(1).headOption.map(_.trim)
          .filter(_.nonEmpty).getOrElse("doc_id")
        GraftCatalog.registerTable(q, root, key)
        Some((root, key))
      }
    }

  private def resolve(q: String): Option[(String, String)] =
    GraftCatalog.lookup(q).orElse(durableLookup(q))

  /** Registration hook for the procedure face (`CALL
    * graft.system.clone(…, as_table => …)`); the key is the SOURCE
    * table's merge key, carried through by the caller. */
  private[sources] def persistRegistration(q: String, root: String,
                                           key: String): Unit =
    persist(q, root, key, exclusive = true)

  /** Persist a registration under the warehouse; `exclusive` drives
    * CREATE's across-process CAS (putIfAbsent) vs rename/update's
    * last-writer-wins PUT. */
  private def persist(q: String, root: String, key: String,
                      exclusive: Boolean): Unit =
    warehouse.foreach { _ =>
      val p = durableEntry(q)
      val st = ChainStorage.forPath(p)
      val content = s"$root\n$key\n"
      if (exclusive) {
        if (!st.putIfAbsent(p, content))
          throw new org.apache.spark.sql.catalyst.analysis
            .TableAlreadyExistsException(
              s"$catName.$q (durable registration exists)")
      } else st.write(p, content)
    }

  private def rootOf(ident: Identifier): (String, String) =
    resolve(qualified(ident)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(Seq(catName) ++ ident.namespace :+
          ident.name))

  /** Table-name → chain-root resolution for the procedure surface —
    * the SAME lookup `SELECT` uses (process map, then the warehouse's
    * durable `_catalog`), so `CALL` maintains exactly the tables the
    * reads see. */
  private[sources] def chainRootOf(q: String): String =
    resolve(q).map(_._1).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException((catName +: q.split("\\.").toSeq)))

  /** The source table's registered merge key — clone registration
    * must inherit it, not default to doc_id: SQL DML on a clone of a
    * table keyed on another column would otherwise merge on the
    * wrong key. */
  private[sources] def mergeKeyOf(q: String): String =
    resolve(q).map(_._2).getOrElse("doc_id")

  // ----------------------------------- CALL graft.system.<proc>(…)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    GraftProcedures.list(namespace)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val durable = warehouse.toSeq.flatMap { wh =>
      val dir = s"$wh/_catalog"
      val st = ChainStorage.forPath(dir)
      st.list(dir).filter(n => st.isFile(s"$dir/$n"))
    }
    (GraftCatalog.registered ++ durable).distinct.sorted.filter { q =>
      q.split("\\.").dropRight(1).sameElements(namespace)
    }.map { q =>
      val parts = q.split("\\.")
      Identifier.of(parts.dropRight(1), parts.last)
    }.toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style METADATA TABLES: `graft.db.t.history` (the
    // registered table's name becomes the last namespace segment)
    // resolves to the chain's describeHistory as a queryable relation
    if (ident.name == "history" && ident.namespace.nonEmpty) {
      val parent = ident.namespace.mkString(".")
      resolve(parent).foreach { case (root, _) =>
        return new GraftHistoryTable(root, s"$parent.history")
      }
    }
    // `graft.db.t.files` — the current version's per-file stats
    // (Iceberg's `files` metadata table): one row per live data file
    // with its manifest stats and DV-hidden count, served as a
    // DISTRIBUTED scan over the manifest parquet (never a driver-held
    // file list — a 10⁸-file table's audit query stays executor-side)
    if (ident.name == "files" && ident.namespace.nonEmpty) {
      val parent = ident.namespace.mkString(".")
      resolve(parent).foreach { case (root, _) =>
        return new GraftFilesTable(root, s"$parent.files")
      }
    }
    // `graft.db.t.refs` — Iceberg's `refs` metadata table: one row
    // per named reference (tags with their pinned versions, branches
    // with their heads), driver-local O(refs) rows
    if (ident.name == "refs" && ident.namespace.nonEmpty) {
      val parent = ident.namespace.mkString(".")
      resolve(parent).foreach { case (root, _) =>
        return new GraftRefsTable(root, s"$parent.refs")
      }
    }
    // `graft.db.t.partitions` — Iceberg's `partitions` table: one row
    // per (bucket, spec) group with file/row/hidden sums and the
    // group's key range; a bucketed chain's skew and balance audit in
    // one aggregate over the manifest (distributed, never the file
    // list on the driver)
    if (ident.name == "partitions" && ident.namespace.nonEmpty) {
      val parent = ident.namespace.mkString(".")
      resolve(parent).foreach { case (root, _) =>
        return new GraftPartitionsTable(root, s"$parent.partitions")
      }
    }
    // `graft.db.t.changes` — the change feed (CDF) as a catalog-
    // resolved relation: batch SELECT reads the whole feed window,
    // readStream.table tails it (the same GraftTableTable the
    // format("graft-table") face serves, keyed by the registered
    // merge key)
    if (ident.name == "changes" && ident.namespace.nonEmpty) {
      val parent = ident.namespace.mkString(".")
      resolve(parent).foreach { case (root, key) =>
        val m = new java.util.HashMap[String, String]()
        m.put("path", root)
        m.put("key", key)
        return new GraftTableTable(
          GraftTableSourceV2.feedSchema(SparkSession.active, root),
          new CaseInsensitiveStringMap(m))
      }
    }
    val (root, key) = rootOf(ident)
    val s = SparkSession.active
    new GraftCatalogTable(root,
      ManifestPrune.currentVersion(s, root), key, qualified(ident))
  }

  /** `VERSION AS OF <n | 'tag'>` — numeric version or named tag (the
    * Iceberg ref convention). */
  /** `db.t.files` parent root when `ident` names the files metadata
    * table of a registered parent, else None — so time travel applies
    * to metadata tables too (Iceberg's convention). */
  private def metaParent(ident: Identifier, meta: String)
      : Option[(String, String)] =
    if (ident.name == meta && ident.namespace.nonEmpty)
      resolve(ident.namespace.mkString("."))
        .map { case (root, _) => (root, ident.namespace.mkString(".")) }
    else None

  private def versionOrTag(root: String, ident: Identifier,
                           version: String): Long =
    if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
    else ManifestPrune.taggedVersion(root, version).getOrElse(
      throw new IllegalArgumentException(
        s"no version or tag '$version' on ${qualified(ident)} " +
          s"(tags: ${ManifestPrune.listTags(root).keys.toSeq.sorted
            .mkString(", ")})"))

  override def loadTable(ident: Identifier, version: String): Table = {
    metaParent(ident, "files").foreach { case (root, parent) =>
      return new GraftFilesTable(root, s"$parent.files",
        Some(versionOrTag(root, ident, version)))
    }
    metaParent(ident, "partitions").foreach { case (root, parent) =>
      return new GraftPartitionsTable(root, s"$parent.partitions",
        Some(versionOrTag(root, ident, version)))
    }
    val (root, key) = rootOf(ident)
    new GraftCatalogTable(root, versionOrTag(root, ident, version),
      key, qualified(ident))
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch; the chain's
    * marker timeline resolves it ([[ManifestPrune.versionAsOf]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    metaParent(ident, "files").foreach { case (root, parent) =>
      return new GraftFilesTable(root, s"$parent.files",
        Some(ManifestPrune.versionAsOf(SparkSession.active, root,
          timestamp / 1000L)))
    }
    metaParent(ident, "partitions").foreach { case (root, parent) =>
      return new GraftPartitionsTable(root, s"$parent.partitions",
        Some(ManifestPrune.versionAsOf(SparkSession.active, root,
          timestamp / 1000L)))
    }
    val (root, key) = rootOf(ident)
    val v = ManifestPrune.versionAsOf(SparkSession.active, root,
      timestamp / 1000L)
    new GraftCatalogTable(root, v, key, qualified(ident))
  }

  override def tableExists(ident: Identifier): Boolean =
    resolve(qualified(ident)).isDefined

  /** `CREATE TABLE graft.db.t (…) USING graft [PARTITIONED BY (…)]
    * [LOCATION '…'] [TBLPROPERTIES (…)]` — bootstraps an EMPTY chain
    * ([[ManifestPrune.createEmptyLayout]]) and registers it (durably
    * when the catalog has a warehouse). The chain root is the DDL
    * LOCATION or `<warehouse>/<db>/<t>`. Clustering resolution, most
    * explicit wins: TBLPROPERTIES `cluster`='statsCol|c1,c2' >
    * PARTITIONED-BY identity columns (clustering IS this engine's
    * partitioning — files are range-clustered and min/max-pruned on
    * the spec columns, Iceberg's hidden-partitioning stance) > the
    * first orderable column. TBLPROPERTIES `key` names the merge key
    * (default doc_id when present, else the first column). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : Table = {
    val q = qualified(ident)
    if (resolve(q).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catName) ++ ident.namespace :+ ident.name)
    val root = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(_.stripSuffix("/"))
      .orElse(warehouse.map(wh =>
        (Seq(wh) ++ ident.namespace.toSeq :+ ident.name).mkString("/")))
      .getOrElse(throw new UnsupportedOperationException(
        "CREATE TABLE needs a LOCATION clause or the catalog option " +
          s"spark.sql.catalog.$catName.warehouse"))
    // `PARTITIONED BY (bucket(8, doc_id))` declares the chain's SPJ
    // bucketing (SpjBucket) — every insert stays bucketed and joins
    // of co-bucketed tables plan shuffle-free
    val bucketPart: Option[(String, Int)] =
      partitions.toSeq.collectFirst {
        case t if t.name == "bucket" =>
          import org.apache.spark.sql.connector.expressions.{Literal => V2Lit, NamedReference}
          val n = t.arguments.collectFirst {
            case l: V2Lit[_] if l.value.isInstanceOf[Number] =>
              l.value.asInstanceOf[Number].intValue
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform without a bucket count: $t"))
          val c = t.arguments.collectFirst {
            case r: NamedReference => r.fieldNames.mkString(".")
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform without a column: $t"))
          (c, n)
      }
    val identityCols = partitions.toSeq.collect {
      case t if t.name == "identity" =>
        t.references.head.fieldNames.mkString(".")
    }
    require(identityCols.length + bucketPart.size == partitions.length,
      "only identity and bucket(n, col) PARTITIONED BY transforms " +
        "are supported (identity columns become the clustering " +
        "spec; bucket declares storage-partitioned-join bucketing)")
    val (statsCol, clusterCols) =
      Option(properties.get("cluster")).map { v =>
        val parts = v.split("\\|")
        require(parts.length == 2,
          s"cluster property must be 'statsCol|c1,c2', got '$v'")
        (parts(0).trim, parts(1).split(",").map(_.trim).toSeq
          .filter(_.nonEmpty))
      }.getOrElse {
        if (identityCols.nonEmpty) (identityCols.head, identityCols)
        else {
          val f = schema.fields.find(f =>
            f.dataType.isInstanceOf[org.apache.spark.sql.types
              .NumericType] ||
            f.dataType == org.apache.spark.sql.types.StringType)
            .getOrElse(schema.fields.head)
          (f.name, Seq(f.name))
        }
      }
    val key = Option(properties.get("key")).getOrElse(
      if (schema.fieldNames.contains("doc_id")) "doc_id"
      else schema.fieldNames.head)
    ManifestPrune.createEmptyLayout(SparkSession.active, root, schema,
      statsCol, clusterCols)
    // TBLPROPERTIES('stats.columns'='all|none|include:…|exclude:…') —
    // the per-table column-statistics policy every later commit's
    // cstats writer honors (validated here, so bad DDL fails fast)
    Option(properties.get("stats.columns")).foreach { v =>
      ManifestPrune.setStatsPolicy(root, v)
    }
    bucketPart.foreach { case (c, n) =>
      require(schema.fieldNames.contains(c),
        s"bucket column '$c' does not exist in the declared schema")
      SpjBucket.register(root, c, n)
    }
    persist(q, root, key, exclusive = true)
    GraftCatalog.registerTable(q, root, key)
    new GraftCatalogTable(root, 0L, key, q)
  }

  /** `ALTER TABLE` — the chain's metadata evolutions from SQL:
    * `ADD CONSTRAINT … CHECK (…)` ⇒ [[ManifestPrune.addConstraint]]
    * (enforced on every later commit's new rows), `DROP CONSTRAINT`,
    * `SET TBLPROPERTIES('cluster'='statsCol|c1,c2')` ⇒
    * [[ManifestPrune.evolveClustering]] (a metadata-only commit), and
    * `SET TBLPROPERTIES('key'='col')` re-registers the merge key. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val q = qualified(ident)
    val (root, key) = rootOf(ident)
    changes.foreach {
      case ac: TableChange.AddConstraint => ac.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          ManifestPrune.addConstraint(root, c.name(), c.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"only CHECK constraints are supported, got ${other.toDDL}")
      }
      case dc: TableChange.DropConstraint =>
        val dropped = ManifestPrune.dropConstraint(root, dc.name())
        if (!dropped && !dc.ifExists())
          throw new IllegalArgumentException(
            s"no constraint '${dc.name()}' on $catName.$q")
      case sp: TableChange.SetProperty if sp.property == "cluster" =>
        val parts = sp.value.split("\\|")
        require(parts.length == 2,
          s"cluster property must be 'statsCol|c1,c2', got " +
            s"'${sp.value}'")
        ManifestPrune.evolveClustering(SparkSession.active, root,
          parts(0).trim,
          parts(1).split(",").map(_.trim).toSeq.filter(_.nonEmpty))
      case sp: TableChange.SetProperty if sp.property == "key" =>
        GraftCatalog.registerTable(q, root, sp.value)
        persist(q, root, sp.value, exclusive = false)
      case sp: TableChange.SetProperty
          if sp.property == "stats.columns" =>
        // applies to commits from now on; existing manifest rows keep
        // their entries (per-row gaps are advisory, like evolution)
        ManifestPrune.setStatsPolicy(root, sp.value)
      case sp: TableChange.SetProperty if sp.property == "bucket" =>
        // declare SPJ bucketing on an EXISTING table: 'bucket' =
        // 'key|n'. Metadata-only here; existing files carry no
        // bucket ids, so the key-grouped surface activates at the
        // next compaction (which rewrites per bucket — the Iceberg
        // evolve-then-rewrite economics), while every append from
        // now on lands bucketed.
        val parts = sp.value.split("\\|")
        require(parts.length == 2 && parts(1).trim.forall(_.isDigit),
          s"bucket property must be 'key|numBuckets', got " +
            s"'${sp.value}'")
        val bCol = parts(0).trim
        require(ManifestPrune.schemaOfVersion(SparkSession.active,
            root, ManifestPrune.currentVersion(SparkSession.active,
              root)).fieldNames.contains(bCol),
          s"bucket column '$bCol' does not exist in the table")
        SpjBucket.register(root, bCol, parts(1).trim.toInt)
      case ac: TableChange.AddColumn =>
        // ALTER TABLE … ADD COLUMN(S) ⇒ a metadata-only declared-
        // schema commit ([[ManifestPrune.addColumns]]); pre-evolution
        // rows surface the column as NULL
        require(ac.fieldNames().length == 1,
          "nested columns are not supported — the chain's tables " +
            s"are flat (got ${ac.fieldNames().mkString(".")})")
        ManifestPrune.addColumns(SparkSession.active, root,
          StructType(Seq(org.apache.spark.sql.types.StructField(
            ac.fieldNames().head, ac.dataType(),
            nullable = ac.isNullable))))
      case dc: TableChange.DeleteColumn =>
        // ALTER TABLE … DROP COLUMN ⇒ metadata-only; the name retires
        // forever (old files still hold its values — no recycling)
        require(dc.fieldNames().length == 1,
          "nested columns are not supported — the chain's tables " +
            s"are flat (got ${dc.fieldNames().mkString(".")})")
        require(!dc.fieldNames().head.equalsIgnoreCase(key),
          s"cannot drop '$key' — it is the table's registered merge " +
            "key (SET TBLPROPERTIES ('key'='…') first)")
        ManifestPrune.dropColumns(SparkSession.active, root,
          Seq(dc.fieldNames().head))
      case rc: TableChange.RenameColumn =>
        // ALTER TABLE … RENAME COLUMN ⇒ metadata-only; the old name
        // rides in the field's prior-name metadata so files of every
        // generation resolve
        require(rc.fieldNames().length == 1,
          "nested columns are not supported — the chain's tables " +
            s"are flat (got ${rc.fieldNames().mkString(".")})")
        if (rc.fieldNames().head.equalsIgnoreCase(key)) {
          ManifestPrune.renameColumn(SparkSession.active, root,
            rc.fieldNames().head, rc.newName())
          // the merge key follows its column's rename
          GraftCatalog.registerTable(q, root, rc.newName())
          persist(q, root, rc.newName(), exclusive = false)
        } else ManifestPrune.renameColumn(SparkSession.active, root,
          rc.fieldNames().head, rc.newName())
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other (supported: ADD/DROP " +
          "CONSTRAINT … CHECK, ADD/DROP/RENAME COLUMN, SET " +
          "TBLPROPERTIES cluster/key/bucket/stats.columns)")
    }
    loadTable(ident)
  }

  /** DROP TABLE unregisters the name (memory + durable); the chain's
    * files are retired by its own vacuum, never by the catalog. */
  override def dropTable(ident: Identifier): Boolean = {
    val q = qualified(ident)
    val mem = GraftCatalog.unregisterTable(q)
    val dur = warehouse.exists { _ =>
      val p = durableEntry(q)
      ChainStorage.forPath(p).deleteFile(p)
    }
    mem || dur
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val (root, key) = rootOf(oldIdent)
    GraftCatalog.registerTable(qualified(newIdent), root, key)
    persist(qualified(newIdent), root, key, exclusive = true)
    dropTable(oldIdent)
    ()
  }

  // --- namespaces: registration-derived (memory + durable),
  /** The catalog-resolved `bucket` function — what gives the
    * `bucket(N, key)` transform the scans report its SEMANTICS, so
    * Spark's storage-partitioned-join machinery can check two graft
    * tables' partitionings are compatible (and evaluate the function
    * on the shuffle-one-side SPJ path). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions
        .UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def functionExists(ident: Identifier): Boolean =
    ident.name == "bucket"

  // metadata-free
  override def listNamespaces(): Array[Array[String]] = {
    val durable = warehouse.toSeq.flatMap { wh =>
      val dir = s"$wh/_catalog"
      val st = ChainStorage.forPath(dir)
      st.list(dir).filter(n => st.isFile(s"$dir/$n"))
    }
    (GraftCatalog.registered ++ durable)
      .map(_.split("\\.").dropRight(1).toSeq)
      .distinct.map(_.toArray).toArray
  }
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = Array.empty
  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Seq(catName) ++ namespace)
    java.util.Collections.emptyMap()
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    listNamespaces().exists(_.sameElements(namespace))
  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "namespaces are implied by registered table names")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("immutable namespace")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = false
}

object GraftCatalog {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Register a chain root under `db.table` (+ its merge key). */
  def registerTable(qualified: String, root: String,
                    key: String = "doc_id"): Unit =
    tables.put(qualified, (root, key))

  def unregisterTable(qualified: String): Boolean =
    tables.remove(qualified) != null

  private[sources] def lookup(qualified: String)
      : Option[(String, String)] = Option(tables.get(qualified))

  private[sources] def registered: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tables.keySet().asScala.toSeq.sorted
  }
}

/** One committed version of a chain as a DSv2 table: reads mask the
  * version's sidecars executor-side; writes commit on the chain. */
private[sources] class GraftCatalogTable(val root: String,
                                         val snapshot: Long,
                                         val mergeKey: String,
                                         qualified: String)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDeleteV2 with SupportsMetadataColumns
    with SupportsRowLevelOperations {

  override def name(): String = s"$qualified@v$snapshot"

  // declared-schema registry when the chain has one, else ONE data
  // file's footer — never a multi-file relation resolution per query
  override lazy val schema: StructType =
    ManifestPrune.schemaOfVersion(SparkSession.active, root, snapshot)

  /** A bucketed chain advertises its layout as a `bucket(N, key)`
    * transform (DESCRIBE shows it; the scan's KeyGroupedPartitioning
    * gives it join-planning teeth). */
  override def partitioning(): Array[Transform] =
    SpjBucket.bucketingOf(root).map { case (k, n) =>
      org.apache.spark.sql.connector.expressions.Expressions
        .bucket(n, k)
    }.toArray

  /** DESCRIBE EXTENDED surfaces the chain's physical design: the
    * clustering spec, the merge key, the declared bucketing, and the
    * snapshot served. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("provider", "graft")
    m.put("key", mergeKey)
    m.put("snapshot", snapshot.toString)
    val spec = ManifestPrune.specOfVersion(root, snapshot)
    m.put("cluster", s"${spec.statsCol}|${spec.clusterCols
      .mkString(",")}")
    SpjBucket.bucketingOf(root).foreach { case (k, n) =>
      m.put("bucket", s"$k|$n")
    }
    ManifestPrune.statsPolicyOf(root) match {
      case ManifestPrune.StatsAll => // the default; keep DESCRIBE lean
      case ManifestPrune.StatsNone => m.put("stats.columns", "none")
      case ManifestPrune.StatsInclude(cs) =>
        m.put("stats.columns", s"include:${cs.toSeq.sorted.mkString(",")}")
      case ManifestPrune.StatsExclude(cs) =>
        m.put("stats.columns", s"exclude:${cs.toSeq.sorted.mkString(",")}")
    }
    m
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      // readStream.table → the Delta-style ROW stream (snapshot +
      // appends, GraftRowMicroBatchStream); writeStream.toTable →
      // the staged GraftStreamingWrite (modes append | upsert)
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  /** The chain's registered CHECK constraints, surfaced on the DSv2
    * face (DESCRIBE / the analyzer's constraint framework). Enforced
    * at commit time on new rows ([[ManifestPrune.addConstraint]]'s
    * contract), hence enforced=true, unvalidated-by-default. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] =
    ManifestPrune.listConstraints(root).toSeq.sortBy(_._1).map {
      case (n, e) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(e).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** The row-identity metadata columns SQL MERGE/UPDATE plan on: the
    * scan serves the physical (file, position) of every live row —
    * the same coordinates the DV sidecar speaks, so a row-level
    * command's deletes drop straight into the sidecar. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftMetaColumn("__file",
        org.apache.spark.sql.types.StringType),
      GraftMetaColumn("__pos", org.apache.spark.sql.types.LongType))

  /** SQL MERGE INTO / UPDATE as a DELTA-based row-level operation —
    * the merge-on-read shape the chain's morMergeFrom already speaks:
    * Spark rewrites the command into per-row DELETE/UPDATE/INSERT
    * actions against the scan's (__file, __pos) row ids; the writers
    * stage masked positions + post-image rows, and the commit folds
    * them onto the chain as ONE version (positions into the DV
    * sidecar, rows as a delta file) with a stale-base CAS check. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(root, snapshot, schema,
      info.command())

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftChainScanBuilder(root, snapshot, schema, options)

  // ------------------------------------------------- INSERT INTO
  /** The public V1Write bridge (the JDBC connector's shape): the
    * micro-planned batch arrives as a driver DataFrame, exactly what
    * the chain's commit functions consume. INSERT INTO appends;
    * INSERT OVERWRITE (truncate) replaces. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = {
              val s = data.sparkSession
              // blind writes auto-retry a lost CAS (Delta's rule:
              // appends commute, overwrite is last-wins) — both
              // re-read the current version on every attempt, so two
              // concurrent SQL INSERTs both land
              ManifestPrune.withCommitRetry() { () =>
                if (replace || overwrite)
                  ManifestPrune.replaceCommit(s, root, data)
                else
                  ManifestPrune.appendCommit(s, root, data)
              }
            }
          }

        /** `writeStream.toTable("graft.db.t")` — the same staged
          * exactly-once streaming write the `graft-table` sink runs
          * (per-epoch `tsink:` cursors, replay commits nothing).
          * Write options: `mode` ∈ append | upsert (upsert merges on
          * the registered key; full-row batches — Spark validates the
          * stream's schema against the table's). */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          val mode = Option(info.options.get("mode")).getOrElse("append")
          val key = Option(info.options.get("key")).getOrElse(mergeKey)
          new GraftStreamingWrite(root, mode, key, info.schema(),
            new SerializableHadoopConf(
              SparkSession.active.sparkContext.hadoopConfiguration))
        }
      }
    }

  // ------------------------------------------------- DELETE WHERE
  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    predicates.forall(p => V2PredicateToColumn.translate(p).isDefined)

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    val cond = predicates.toSeq.flatMap(V2PredicateToColumn.translate)
      .reduceOption(_ && _)
      .getOrElse(lit(true)) // TRUNCATE: unconditional delete
    // when the conjunction pins a bloom-indexed column to a finite
    // key set (DELETE WHERE doc_id IN (...) — the GDPR point erase),
    // position planning reads only the sketch-matched files
    val planKeys = ChainSkip.exactKeys(predicates)
    // predicate deletes re-plan doomed positions against the current
    // version on every attempt, so a lost CAS is safely retried
    ManifestPrune.withCommitRetry() { () =>
      ManifestPrune.dvDeleteWhereCommit(SparkSession.active, root,
        cond, planKeys)
    }
  }
}

/** DSv2 `Predicate` → Column translation for the delete path — the
  * V2 expression algebra (comparisons, boolean connectives, null
  * tests, IN, string matches, and the arithmetic Spark's
  * V2ExpressionBuilder pushes: + - * / %), so predicates like
  * `doc_id % 5 = 2` delete correctly. None = untranslatable
  * (canDeleteWhere then refuses and Spark reports the unsupported
  * predicate instead of silently deleting wrong rows). */
private[sources] object V2PredicateToColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, GeneralScalarExpression, Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue}

  def translate(e: V2Expr): Option[Column] = e match {
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case f: NamedReference => Some(col(f.fieldNames.mkString(".")))
    case l: V2Literal[_] => Some(org.apache.spark.sql.GraftSqlShims
      .column(org.apache.spark.sql.catalyst.expressions
        .Literal(l.value, l.dataType)))
    case g: GeneralScalarExpression =>
      val kids = g.children().toSeq.map(translate)
      if (kids.exists(_.isEmpty)) return None
      val c = kids.flatten
      def bin(f: (Column, Column) => Column): Option[Column] =
        if (c.length == 2) Some(f(c(0), c(1))) else None
      g.name() match {
        case "=" => bin(_ === _)
        case "<=>" => bin(_ <=> _)
        case "<>" | "!=" => bin(_ =!= _)
        case "<" => bin(_ < _)
        case "<=" => bin(_ <= _)
        case ">" => bin(_ > _)
        case ">=" => bin(_ >= _)
        case "+" => bin(_ + _)
        case "-" => if (c.length == 1) Some(-c(0)) else bin(_ - _)
        case "*" => bin(_ * _)
        case "/" => bin(_ / _)
        case "%" => bin(_ % _)
        case "AND" => bin(_ && _)
        case "OR" => bin(_ || _)
        case "NOT" => if (c.length == 1) Some(!c(0)) else None
        case "IS_NULL" => if (c.length == 1) Some(c(0).isNull) else None
        case "IS_NOT_NULL" =>
          if (c.length == 1) Some(c(0).isNotNull) else None
        case "IN" => Some(c(0).isin(c.drop(1): _*))
        case "STARTS_WITH" => bin(_ startsWith _)
        case "ENDS_WITH" => bin(_ endsWith _)
        case "CONTAINS" => bin(_ contains _)
        case "ABS" => if (c.length == 1)
          Some(org.apache.spark.sql.functions.abs(c(0))) else None
        case "COALESCE" =>
          Some(org.apache.spark.sql.functions.coalesce(c: _*))
        case _ => None
      }
    case _ => None
  }
}

// ---------------------------------------------------------- the scan

private[sources] class GraftChainScanBuilder(
    root: String, version: Long, full: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private var required: StructType = full
  private var skipUsed: Array[V2Predicate] = Array.empty
  private var skipBounds: Map[String, ChainSkip.Bounds] = Map.empty
  private var sawPredicates = false
  private var metaAgg: Option[ChainSkip.MetaAgg] = None
  private var limit: Option[Int] = None

  /** LIMIT pushdown is FILE pruning, not row capping: the scan plans
    * only enough files to provably cover the limit, and reports
    * partially-pushed so Spark keeps the global Limit on top. Never
    * combined with filters (a post-scan filter could thin the kept
    * files below the limit). */
  override def pushLimit(l: Int): Boolean = {
    if (sawPredicates || l <= 0) return false
    limit = Some(l)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** TOP-N pushdown is also file pruning (partially-pushed — Spark
    * keeps TakeOrderedAndProject): for `ORDER BY c LIMIT k` on a
    * single bare column, files k rows provably out-sort are dropped
    * via ChainSkip.topNFiles' null-exact manifest arithmetic. */
  private var topN: Option[(String, Boolean, Boolean, Int, Boolean)] =
    None
  override def pushTopN(orders: Array[org.apache.spark.sql.connector
      .expressions.SortOrder], l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (sawPredicates || l <= 0 || orders.length != 1) return false
    orders(0).expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        // integral columns plan through topNFiles' Long arithmetic;
        // string columns through topNFilesStr's truncation-aware
        // UTF8-order arithmetic. Anything else (double, timestamp)
        // has no cstats family — refuse, don't crash
        val dt = full.fields.find(_.name == r.fieldNames.head)
          .map(_.dataType)
        val integral = dt.exists(t => t == LongType ||
          t == IntegerType || t == ShortType || t == ByteType)
        val isStr = dt.contains(
          org.apache.spark.sql.types.StringType)
        if (!integral && !isStr) return false
        val asc = orders(0).direction() == SortDirection.ASCENDING
        val nullsFirst =
          orders(0).nullOrdering() == NullOrdering.NULLS_FIRST
        topN = Some((r.fieldNames.head, asc, nullsFirst, l, isStr))
        true
      case _ => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** File skipping is ADVISORY: every predicate is returned as
    * residual (Spark re-applies them all post-scan), and the interval
    * bounds extracted from the recognizable ones only drop files the
    * manifest proves cannot match — pruning trades I/O, never
    * correctness. */
  private var exactKeys: Map[String, Seq[Long]] = Map.empty
  private var strBounds: Map[String, ChainSkip.SBounds] = Map.empty
  override def pushPredicates(predicates: Array[V2Predicate])
      : Array[V2Predicate] = {
    sawPredicates ||= predicates.nonEmpty
    val (used, bounds) = ChainSkip.extract(predicates)
    skipUsed = used
    skipBounds = bounds
    strBounds = ChainSkip.extractStr(predicates)
    exactKeys = ChainSkip.exactKeys(predicates)
    predicates
  }
  override def pushedPredicates(): Array[V2Predicate] = skipUsed

  /** Global COUNT(*)/MIN/MAX answered from manifest + sidecar
    * arithmetic alone (Iceberg's metadata-aggregate rule) — the scan
    * then never opens a data file. Spark only attempts this when no
    * post-scan filter remains; since every predicate stays residual
    * here, a filtered aggregate always takes the real scan (the
    * `sawPredicates` guard makes that assumption load-bearing). */
  override def supportCompletePushDown(agg: org.apache.spark.sql
      .connector.expressions.aggregate.Aggregation): Boolean = {
    if (sawPredicates) return false
    metaAgg =
      if (agg.groupByExpressions().isEmpty)
        ChainSkip.planAgg(SparkSession.active, root, version, full,
          agg)
      else
        // GROUP BY pushdown: answered per group when every live file
        // is provably single-group in the grouping column (the
        // Iceberg partition-rollup rule, generalized via cstats)
        ChainSkip.planGroupAgg(SparkSession.active, root, version,
          full, agg)
    metaAgg.isDefined
  }
  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean =
    metaAgg.isDefined || supportCompletePushDown(agg)

  override def build(): Scan = metaAgg match {
    case Some(a) => new GraftMetaAggScan(root, version, a)
    case None =>
      new GraftChainScan(root, version, required, options, skipBounds,
        limit, topN, exactKeys, strBounds)
  }
}

/** The metadata-only aggregate scan: one partition, one row, computed
  * entirely from the manifest and sidecars at plan time — `SELECT
  * count(*) FROM graft.db.t` costs O(manifest) and reads zero data
  * bytes (provable: the data files can be deleted and it still
  * answers — GraftAggPushdownSpec does exactly that). */
private[sources] class GraftMetaAggScan(
    root: String, version: Long, agg: ChainSkip.MetaAgg)
    extends Scan with Batch {
  override def readSchema(): StructType = agg.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-chain-agg $root v$version " +
      s"[${agg.schema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(MetaAggPartition(agg.rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new MetaAggReaderFactory
}

private[sources] case class MetaAggPartition(rows: Seq[Seq[Any]])
    extends InputPartition

private[sources] class MetaAggReaderFactory
    extends PartitionReaderFactory {
  override def createReader(p0: InputPartition)
      : PartitionReader[InternalRow] = {
    val rows = p0.asInstanceOf[MetaAggPartition].rows
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: Seq[Any] = _
      override def next(): Boolean = {
        val r = it.hasNext; if (r) cur = it.next(); r
      }
      override def get(): InternalRow = InternalRow.fromSeq(cur)
      override def close(): Unit = ()
    }
  }
}

/** One partition per committed data file; the version's DV and
  * equality-delete sidecar part files ride to every task (sized by
  * deleted rows — the applyDv broadcast bound) and mask rows
  * executor-side, so `SELECT … FROM graft.db.t` reads exactly what
  * [[ManifestPrune.readCommitted]] computes, without a driver-side
  * join plan. Column pruning reaches the reader (by-name decode). */
private[sources] class GraftChainScan(
    root: String, version: Long, required: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    skipBounds: Map[String, ChainSkip.Bounds] = Map.empty,
    limit: Option[Int] = None,
    topN: Option[(String, Boolean, Boolean, Int, Boolean)] = None,
    exactKeys: Map[String, Seq[Long]] = Map.empty,
    strBounds: Map[String, ChainSkip.SBounds] = Map.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** STORAGE-PARTITIONED JOIN eligibility: the chain is registered
    * bucketed, every live file carries its bucket id in the manifest,
    * the join key survived column pruning, and no compile-time skip
    * bounds narrowed the file set (pruned buckets would desync the
    * two sides' partition values). When Some, partitions carry their
    * bucket as the partition key and the scan reports
    * KeyGroupedPartitioning(bucket(N, key)) — two co-bucketed graft
    * tables then join with ZERO Exchange on either side. */
  private lazy val spjPlan: Option[(String, Int, Seq[(String, Int)])] =
    if (skipBounds.nonEmpty || strBounds.nonEmpty) None
    else SpjBucket.bucketingOf(root).flatMap { case (key, _) =>
      if (!required.fieldNames.contains(key)) None
      else SpjBucket.bucketedFiles(SparkSession.active, root, version)
        .filter(_._2.nonEmpty) // an all-empty table has no key groups
        .map { case (n, files) => (key, n, files) }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjPlan match {
      case Some((key, n, files)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, key)), files.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Bounds learned at EXECUTION time (dynamic partition pruning: the
    * join's build side finished, Spark hands this scan the probe
    * keys' IN-set) — intersected with the compile-time bounds before
    * partitions are planned. */
  @volatile private var runtimeBounds: Map[String, ChainSkip.Bounds] =
    Map.empty
  @volatile private var runtimeExact: Map[String, Seq[Long]] =
    Map.empty
  /** Partition count of the last plan — observable by specs, so the
    * runtime-pruning claim is assertable on the REAL executed join. */
  @volatile private[sources] var lastPlannedPartitions: Int = -1

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-chain $root v$version cols=[${required.fieldNames
      .mkString(",")}]" + (if (skipBounds.isEmpty) "" else
      skipBounds.toSeq.sortBy(_._1).map { case (c, b) =>
        s" skip:$c∈[${b.lo},${b.hi}]" }.mkString) +
      (if (strBounds.isEmpty) "" else
      strBounds.toSeq.sortBy(_._1).map { case (c, b) =>
        s" skip:$c∈[${b.lo.getOrElse("")},${b.hi.getOrElse("∞")}]"
      }.mkString)

  /** Runtime filtering (DPP through the SQL face): a join keyed on a
    * clustering stats column prunes this scan's files with the build
    * side's actual key set — the v2 equivalent of partition pruning,
    * on range-clustered files instead of hive directories. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // a key-grouped (SPJ) scan keeps its partition-value set stable:
    // runtime pruning there could drop buckets one join side still
    // expects, so it is offered only on unbucketed plans
    if (spjPlan.isDefined) Array.empty
    else {
      // runtime IN-sets on a bloom-indexed column prune via the
      // sketches (point-lookup DPP); stats columns prune via ranges
      val bloomCol = BloomIndex.indexOf(root, version)
        .flatMap(BloomIndex.indexedColumn)
      (ManifestPrune.listSpecs(root).values.map(_.statsCol).toSet ++
          bloomCol)
        .filter(c => required.fieldNames.contains(c))
        .map(c => org.apache.spark.sql.connector.expressions
          .Expressions.column(c)).toArray
    }

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val (_, b) = ChainSkip.extract(predicates)
    runtimeBounds = b
    runtimeExact = ChainSkip.exactKeys(predicates)
  }

  /** Compile-time and runtime exact key sets compose conjunctively:
    * a column constrained by both keeps the intersection. */
  private def mergedExact: Map[String, Seq[Long]] =
    (exactKeys.keySet ++ runtimeExact.keySet).map { c =>
      c -> ((exactKeys.get(c), runtimeExact.get(c)) match {
        case (Some(a), Some(b)) => a.toSet.intersect(b.toSet)
          .toSeq.sorted
        case (a, b) => a.orElse(b).get
      })
    }.toMap

  private def effectiveBounds: Map[String, ChainSkip.Bounds] =
    (skipBounds.keySet ++ runtimeBounds.keySet).map { c =>
      val s = skipBounds.getOrElse(c, ChainSkip.Bounds())
      val r = runtimeBounds.getOrElse(c, ChainSkip.Bounds())
      c -> ChainSkip.Bounds(s.lo.max(r.lo), s.hi.min(r.hi))
    }.toMap

  override def planInputPartitions(): Array[InputPartition] = {
    // a compile-time ∩ runtime exact-key set that intersected to
    // EMPTY proves zero rows can match (both constraints are
    // conjunctive equalities on the same column) — plan nothing,
    // instead of dropping the unsatisfiable constraint and scanning
    // every file, which is what the min/max hull path used to do
    if (mergedExact.exists(_._2.isEmpty)) {
      lastPlannedPartitions = 0
      return Array.empty
    }
    val parts = spjPlan match {
      case Some((_, _, files)) =>
        val dv = GraftChainScan.sidecarParts(
          ManifestPrune.dvOf(root, version))
        val eq = GraftChainScan.sidecarParts(
          ManifestPrune.eqDelOf(root, version))
        files.map { case (f, b) =>
          BucketedChainFilePartition(f, dv, eq, b): InputPartition
        }.toArray
      case None =>
        val s = SparkSession.active
        // prune sources compose: interval bounds ∩ bloom screen; a
        // bare LIMIT / ORDER-BY-limit plan applies only when no
        // predicate reached the scan (pushLimit/pushTopN refuse
        // otherwise)
        val bounded =
          ChainSkip.plannedFiles(s, root, version, effectiveBounds)
        val strBounded =
          ChainSkip.plannedFilesStr(s, root, version, strBounds)
        val bloomed =
          ChainSkip.bloomFiles(s, root, version, mergedExact)
        // per-file column stats prune on ANY statted column — but
        // only for columns the dedicated paths above DON'T cover:
        // spec-statted columns already pruned via min_key/max_key,
        // and when a bloom index screened the exact keys the [min,
        // max] hull adds little — skipping those keeps the extra
        // manifest pass off the hot single-column paths (point
        // lookups, stats-column ranges) and reserves it for the
        // multi-dimension predicates it was built for
        val specCols = ManifestPrune.listSpecs(root).values
          .map(_.statsCol).toSet
        val exactHull =
          (if (bloomed.isDefined) Map.empty[String, Seq[Long]]
           else mergedExact.filter(_._2.nonEmpty))
            .map { case (c, vs) =>
              c -> ChainSkip.Bounds(vs.min, vs.max) }
        val allBounds = (effectiveBounds.keySet ++ exactHull.keySet)
          .map { c =>
            val a = effectiveBounds.getOrElse(c, ChainSkip.Bounds())
            val b = exactHull.getOrElse(c, ChainSkip.Bounds())
            c -> ChainSkip.Bounds(a.lo.max(b.lo), a.hi.min(b.hi))
          }.toMap.filter { kv =>
            !specCols.contains(kv._1) &&
              // IN/= hulls on a bloom-screened column add nothing
              // the sketches didn't — and '=' / IN also reach here
              // through the long-bounds extractor, so filter by the
              // exact-key set, not just the hull map above
              !(bloomed.isDefined && mergedExact.contains(kv._1))
          }
        val cstats = ChainSkip.colStatsFiles(s, root, version,
          allBounds, strBounds.filter(kv => !specCols.contains(kv._1)))
        val pruned = (Seq(bounded, strBounded, bloomed,
            cstats).flatten match {
          case Nil => None
          case one :: Nil => Some(one)
          case many => Some(many.map(_.toSet).reduce(_ intersect _)
            .toSeq.sorted)
        }).orElse(limit
            .flatMap(l => ChainSkip.limitFiles(s, root, version, l)))
          .orElse(topN.flatMap { case (c, asc, nf, k, isStr) =>
            if (isStr)
              ChainSkip.topNFilesStr(s, root, version, c, asc, nf, k)
            else ChainSkip.topNFiles(s, root, version, c, asc, nf, k)
          })
        pruned match {
          case Some(files) =>
            val dv = GraftChainScan.sidecarParts(
              ManifestPrune.dvOf(root, version))
            val eq = GraftChainScan.sidecarParts(
              ManifestPrune.eqDelOf(root, version))
            files.map(f =>
              ChainFilePartition(f, dv, eq): InputPartition).toArray
          case None =>
            GraftChainScan.snapshotPartitions(s, root, version,
              Map.empty)
        }
    }
    lastPlannedPartitions = parts.length
    parts
  }

  /** Post-pruning statistics from manifest arithmetic over the
    * driver-held manifest rows — what lets Catalyst broadcast a small
    * graft table in a join without hints, and AQE size the exchange,
    * without a Spark job, let alone a data scan. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val s = SparkSession.active
    val rows = ChainSkip.plannedLiveRows(s, root, version, skipBounds)
    val width = required.fields.map(_.dataType.defaultSize).sum.max(1)
    // EXACT per-column statistics (min/max/nullCount from the
    // manifest's cstats maps) flow to Catalyst through
    // `columnStats()` whenever cost-based optimization asks — a
    // graft table looks like a freshly-ANALYZEd table with zero
    // ANALYZE cost, because every commit already statted every
    // column. Computed lazily (driver arithmetic over the manifest
    // rows, plus a sketch union for NDV) and only under CBO, so the
    // default planning path pays nothing.
    val cboOn = s.conf.get("spark.sql.cbo.enabled", "false") == "true"
    // column stats are snapshot-global while `rows` is already
    // reduced by pushed-filter file skipping — attaching both would
    // let Catalyst see impossible combinations (nullCount > rowCount)
    // AND double-count the filter (every predicate stays residual
    // here, so CBO's FilterEstimation re-applies the selectivity the
    // file skipping already took out). When column stats attach to a
    // filtered scan, report the UNFILTERED snapshot's row count —
    // one consistent row set, with the reduction derived once, by
    // Catalyst, from the exact min/max.
    lazy val cboStats =
      if (cboOn) ChainSkip.columnStatsFor(s, root, version,
        required.fields.toSeq)
      else Map.empty[String, ChainSkip.ColStatRow]
    lazy val reportedRows =
      if (cboOn && cboStats.nonEmpty &&
          (skipBounds.nonEmpty || strBounds.nonEmpty))
        ChainSkip.plannedLiveRows(s, root, version, Map.empty)
      else rows
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(reportedRows.max(1L) * width)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(reportedRows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics] = {
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics]()
        if (cboOn) {
          cboStats.foreach { case (name, cs) =>
            out.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(name),
              new org.apache.spark.sql.connector.read.colstats
                  .ColumnStatistics {
                override def min(): java.util.Optional[Object] =
                  cs.min.map(_.asInstanceOf[Object])
                    .map(java.util.Optional.of[Object])
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  cs.max.map(_.asInstanceOf[Object])
                    .map(java.util.Optional.of[Object])
                    .getOrElse(java.util.Optional.empty[Object]())
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(cs.nullCount)
                // the one estimated field (per-file HLL union,
                // ~1.6%); min/max/nullCount above stay exact
                override def distinctCount(): java.util.OptionalLong =
                  cs.ndv.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
              })
          }
        }
        out
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChainReaderFactory(
      new SerializableHadoopConf(
        SparkSession.active.sparkContext.hadoopConfiguration), required,
      ManifestPrune.priorNameMap(
        ManifestPrune.manifestOf(root, version)))

  /** `readStream.table("graft.db.t")` — the Delta-style row stream
    * (snapshot batch + per-append added files); reader options ride
    * the scan's option map. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftRowMicroBatchStream(root, required,
      Option(options.get("startingVersion")).map(_.toLong),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      new SerializableHadoopConf(
        SparkSession.active.sparkContext.hadoopConfiguration))
}

private[sources] object GraftChainScan {

  private[sources] def sidecarParts(dir: Option[String]): Seq[String] =
    dir.toSeq.flatMap { d =>
      val st = ChainStorage.forPath(d)
      st.list(d).filter(_.endsWith(".parquet")).sorted.map(n => s"$d/$n")
    }

  /** One partition per committed data file of `version`, the DV and
    * equality-delete sidecar parts riding to every task — the masked
    * snapshot plan shared by the batch scan and the row stream's
    * first batch. Interval bounds (from pushed predicates) prune the
    * driver-held manifest rows; planning runs no Spark job. */
  def snapshotPartitions(s: SparkSession, root: String, version: Long,
                         skipBounds: Map[String, ChainSkip.Bounds] =
                           Map.empty): Array[InputPartition] = {
    val mf = ManifestPrune.manifestOf(root, version)
    val files = ChainSkip.plannedFiles(s, root, version, skipBounds)
      .getOrElse(ManifestPrune.versionFiles(s, mf,
        s"catalog scan of $root v$version"))
    val dv = sidecarParts(ManifestPrune.dvOf(root, version))
    val eq = sidecarParts(ManifestPrune.eqDelOf(root, version))
    files.map(f =>
      ChainFilePartition(f, dv, eq): InputPartition).toArray
  }
}

private[sources] case class ChainFilePartition(file: String,
                                               dvParts: Seq[String],
                                               eqParts: Seq[String])
    extends InputPartition

/** A chain file partition that KNOWS its bucket — the HasPartitionKey
  * half of the storage-partitioned-join contract: Spark groups these
  * by bucket id and zips matching groups across the join, no
  * Exchange. */
private[sources] case class BucketedChainFilePartition(
    file: String, dvParts: Seq[String], eqParts: Seq[String],
    bucket: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

private[sources] class ChainReaderFactory(
    conf: SerializableHadoopConf, required: StructType,
    priorNames: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {
  import org.apache.parquet.example.data.Group
  import org.apache.spark.sql.types.{LongType, StringType}

  override def createReader(p0: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = p0 match {
      case b: BucketedChainFilePartition =>
        ChainFilePartition(b.file, b.dvParts, b.eqParts)
      case c: ChainFilePartition => c
    }
    // DV positions for THIS file: the sidecar holds (file, pos) rows
    // keyed by the same _metadata.file_path URI the manifest records
    val hidden = new java.util.HashSet[java.lang.Long]()
    GroupParquet.foreachRow(p.dvParts, conf.value) { g =>
      if (GroupParquet.plainValue(g, "file", StringType) == p.file)
        hidden.add(GroupParquet.plainValue(g, "pos", LongType)
          .asInstanceOf[Long])
    }
    // equality-delete keys: the sidecar's OWN column set defines the
    // match columns (single or composite), SQL join semantics (a null
    // on either side never matches)
    var eqCols: Seq[String] = Seq.empty
    val eqKeys = new java.util.HashSet[Seq[Any]]()
    GroupParquet.foreachRow(p.eqParts, conf.value) { g =>
      if (eqCols.isEmpty) {
        import scala.jdk.CollectionConverters._
        eqCols = g.getType.getFields.asScala.map(_.getName).toSeq
      }
      val key = eqCols.map(c => eqPlain(g, c))
      if (!key.contains(null)) eqKeys.add(key)
    }
    val reader = GroupParquet.open(p.file, conf.value)
    new PartitionReader[InternalRow] {
      private var cur: Group = _
      private var pos = -1L
      override def next(): Boolean = {
        cur = reader.read(); pos += 1
        while (cur != null && masked()) { cur = reader.read(); pos += 1 }
        cur != null
      }
      private def masked(): Boolean =
        hidden.contains(pos) || (eqCols.nonEmpty && {
          val key = eqCols.map(c => eqPlain(cur, c))
          !key.contains(null) && eqKeys.contains(key)
        })
      // the (__file, __pos) METADATA columns — the row identity the
      // row-level operations' rewrite plans on — are synthesized
      // here, never decoded from the file
      private val fileUtf8 = org.apache.spark.unsafe.types.UTF8String
        .fromString(p.file)
      // a renamed column resolves by first-present name: files
      // written after the rename carry the logical name, older files
      // one of its priors (names never recycle, so at most one
      // generation's column exists per file)
      private def decodeName(f: org.apache.spark.sql.types.StructField)
          : String =
        if (priorNames.isEmpty) f.name
        else (f.name +: priorNames.getOrElse(f.name, Nil))
          .find(cur.getType.containsField).getOrElse(f.name)
      override def get(): InternalRow =
        InternalRow.fromSeq(required.fields.toIndexedSeq.map { f =>
          f.name match {
            case "__file" => fileUtf8
            case "__pos" => pos
            case _ =>
              GroupParquet.fieldValue(cur, decodeName(f), f.dataType)
          }
        })
      override def close(): Unit = reader.close()
    }
  }

  /** Decode a field by the FILE's own primitive type (the eq sidecar
    * and the data file agree on key column types by construction). */
  private def eqPlain(g: Group, name: String): Any = {
    val gt = g.getType
    if (!gt.containsField(name)) return null
    val i = gt.getFieldIndex(name)
    if (g.getFieldRepetitionCount(i) == 0) return null
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    gt.getType(i).asPrimitiveType().getPrimitiveTypeName match {
      case INT64 => g.getLong(i, 0)
      case INT32 => g.getInteger(i, 0).toLong // widen: 32 == 64 keys
      case DOUBLE => g.getDouble(i, 0)
      case FLOAT => g.getFloat(i, 0).toDouble
      case BOOLEAN => g.getBoolean(i, 0)
      // bytes, not a decoded string: for a true BinaryType key two
      // distinct byte sequences with invalid UTF-8 can decode to the
      // same string and falsely mask a live row (the Scala read
      // path's applyEqDel anti-join is byte-exact; this must match
      // it). Strings compare identically either way — equal UTF-8
      // bytes iff equal strings.
      case BINARY => g.getBinary(i, 0).getBytes.toSeq
      case t => throw new UnsupportedOperationException(
        s"equality-delete key column '$name' of physical type $t")
    }
  }
}

// ------------------------------------------- row-level operations

private[sources] case class GraftMetaColumn(
    name: String, dataType: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def isNullable: Boolean = false
}

/** SQL MERGE INTO / UPDATE / (row-level) DELETE as a DELTA operation
  * (`SupportsDelta` — Iceberg's merge-on-read MERGE shape): the scan
  * is the normal chain scan plus the (__file, __pos) row-id metadata
  * columns; Spark's rewrite sends per-row actions; [[GraftDeltaWrite]]
  * stages them and commits ONE chain version. The snapshot the scan
  * read is pinned and re-checked at commit — a concurrent writer
  * fails the CAS with a retryable conflict, never a lost update. */
private[sources] class GraftRowLevelOperation(
    root: String, snapshot: Long,
    tableSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
    cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("__file"), Expressions.column("__pos"))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftChainScanBuilder(root, snapshot, tableSchema)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(root, snapshot, info.schema(),
          new SerializableHadoopConf(SparkSession.active
            .sparkContext.hadoopConfiguration),
          cmd.toString.toLowerCase)
    }
}

private[sources] object GraftDeltaWrite {
  val posSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))
}

/** Tasks stage deleted positions and post-image/insert rows as
  * Group-parquet; the driver commit folds them into one version:
  * positions into the DV sidecar, rows as a delta data file — the
  * morMergeFrom economics (O(changed rows), no file rewritten) driven
  * from plain SQL. */
private[sources] class GraftDeltaWrite(root: String, expectedBase: Long,
                                       rowSchema: StructType,
                                       conf: SerializableHadoopConf,
                                       note: String)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  import org.apache.spark.sql.connector.write._

  private val stageDir =
    s"$root/_staging/rlo_${java.util.UUID.randomUUID().toString.take(12)}"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DeltaWriterFactory =
      GraftDeltaWriterFactory(stageDir, rowSchema, conf)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.collect { case m: DeltaStagedMessage => m }
      val delFiles = msgs.flatMap(m => Option(m.delPath)).toSeq
      val rowFiles = msgs.flatMap(m => Option(m.rowPath)).toSeq
      val s = SparkSession.active
      val positions =
        if (delFiles.isEmpty) None
        else Some(s.read.schema(GraftDeltaWrite.posSchema)
          .parquet(delFiles: _*))
      val newRows =
        if (rowFiles.isEmpty) None
        else Some(s.read.schema(rowSchema).parquet(rowFiles: _*))
      ManifestPrune.deltaCommit(s, root, expectedBase, positions,
        newRows, s"rlo:$note")
      // the whole per-write stage DIR, not just the files — empty
      // rlo_* dirs would otherwise accumulate unboundedly on a
      // long-lived table (a crash before this line leaves the dir
      // for expireVersions' _staging age-collection)
      ChainStorage.forPath(root).deleteTree(stageDir)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      ChainStorage.forPath(root).deleteTree(stageDir)
  }
}

private[sources] case class DeltaStagedMessage(delPath: String,
                                               rowPath: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] case class GraftDeltaWriterFactory(
    stageDir: String, rowSchema: StructType,
    conf: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(
      s"$stageDir/p${partitionId}_t${taskId}_" +
        java.util.UUID.randomUUID().toString.take(8),
      rowSchema, conf)
}

/** Per-task delta writer: deletes land as (file, pos) rows, inserts
  * as post-image rows, updates as delete + insert (the DV-mask +
  * delta-append decomposition). Writers open lazily, so a task with
  * no actions stages nothing. */
private[sources] class GraftDeltaWriter(pathBase: String,
                                        rowSchema: StructType,
                                        conf: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.apache.parquet.example.data.Group

  private var delWriter: org.apache.parquet.hadoop.ParquetWriter[Group] = _
  private var rowWriter: org.apache.parquet.hadoop.ParquetWriter[Group] = _
  private lazy val delFactory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      GroupParquet.messageType(GraftDeltaWrite.posSchema))
  private lazy val rowFactory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      GroupParquet.messageType(rowSchema))
  private def delPath = s"${pathBase}_del.parquet"
  private def rowPath = s"${pathBase}_row.parquet"

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (delWriter == null)
      delWriter = GroupParquet.openWriter(delPath,
        GraftDeltaWrite.posSchema, conf.value)
    val g = delFactory.newGroup()
    g.append("file", id.getUTF8String(0).toString)
    g.append("pos", id.getLong(1))
    delWriter.write(g)
  }

  override def insert(row: InternalRow): Unit = {
    if (rowWriter == null)
      rowWriter = GroupParquet.openWriter(rowPath, rowSchema, conf.value)
    rowWriter.write(GroupParquet.toGroup(row, rowSchema, rowFactory))
  }

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (delWriter != null) delWriter.close()
    if (rowWriter != null) rowWriter.close()
    DeltaStagedMessage(
      if (delWriter == null) null else delPath,
      if (rowWriter == null) null else rowPath)
  }

  override def abort(): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), conf.value)
    if (delWriter != null) {
      delWriter.close()
      fs.delete(new org.apache.hadoop.fs.Path(delPath), false)
    }
    if (rowWriter != null) {
      rowWriter.close()
      fs.delete(new org.apache.hadoop.fs.Path(rowPath), false)
    }
  }

  override def close(): Unit = ()
}

// ------------------------------------------------- metadata tables

/** `graft.db.t.files` — the current version's live data files as a
  * relation (Iceberg's `files` metadata table): path, clustering
  * spec id, physical rows, the manifest's min/max stats (stringified
  * so the relation's schema is stable across stats-column types), and
  * the version's DV-hidden row count per file. Unlike `.history`
  * (O(versions), LocalScan) this is O(files) — it rides the public
  * `V1Scan` bridge onto a real distributed plan over the manifest
  * parquet plus one aggregated left join of the DV sidecar, so an
  * audit query over a huge table never materializes the file list on
  * the driver. */
private[sources] class GraftFilesTable(root: String, qualified: String,
                                       asOfVersion: Option[Long] = None)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  override def name(): String = qualified

  override def schema(): StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("spec_id", IntegerType),
    StructField("n_rows", LongType),
    StructField("hidden_rows", LongType),
    StructField("min_key", StringType),
    StructField("max_key", StringType),
    // the per-column stats maps rendered as one JSON document —
    // Iceberg's readable_metrics idea; null for pre-cstats rows
    StructField("stats_json", StringType)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  private def frame(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val cur = asOfVersion.getOrElse(ManifestPrune.currentVersion(s, root))
    val m0 = ManifestPrune.immutableParquet(s,
      ManifestPrune.manifestOf(root, cur))
    // pre-spec-evolution manifests carry no spec_id column
    val m =
      if (m0.columns.contains("spec_id"))
        m0.withColumn("spec_id",
          coalesce(col("spec_id").cast("int"), lit(0)))
      else m0.withColumn("spec_id", lit(0))
    val hidden = ManifestPrune.dvOf(root, cur) match {
      case Some(dv) =>
        ManifestPrune.immutableParquet(s, dv).groupBy(col("file"))
          .agg(count(lit(1)).as("hidden_rows"))
      case None =>
        m.select(col("file")).limit(0)
          .withColumn("hidden_rows", lit(0L))
    }
    val statsJson =
      if (m.columns.contains("cstats_long") ||
          m.columns.contains("cstats_str")) {
        val parts = Seq("cstats_long", "cstats_str")
          .filter(m.columns.contains).map(col)
        to_json(struct(parts: _*))
      } else lit(null).cast("string")
    m.join(hidden, Seq("file"), "left")
      .select(col("file"), col("spec_id"), col("n_rows"),
        coalesce(col("hidden_rows"), lit(0L)).as("hidden_rows"),
        col("min_key").cast("string").as("min_key"),
        col("max_key").cast("string").as("max_key"),
        statsJson.as("stats_json"))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan =
      new org.apache.spark.sql.connector.read.V1Scan {
        override def readSchema(): StructType = schema()
        override def description(): String = s"graft-files $root"
        override def toV1TableScan[T <: org.apache.spark.sql.sources
            .BaseRelation with org.apache.spark.sql.sources.TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          (new org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext =
              context
            override def schema: StructType = readSchema()
            override def buildScan()
                : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              frame(context.sparkSession).rdd
          }).asInstanceOf[T]
      }
  }
}

/** `graft.db.t.refs` — Iceberg's `refs` metadata table: every named
  * reference on the chain — tags (immutable version anchors, the
  * retention guarantee) and branches (writable forks, their own
  * current head) — as a queryable relation. O(refs) driver rows, the
  * LocalScan shape `.history` uses. */
private[sources] class GraftRefsTable(root: String, qualified: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  override def name(): String = qualified

  override def schema(): StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema()
        override def description(): String = s"graft-refs $root"
        override def rows(): Array[InternalRow] = {
          val s = SparkSession.active
          val tags = ManifestPrune.listTags(root).toSeq.sortBy(_._1)
            .map { case (n, v) => InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(n),
              org.apache.spark.unsafe.types.UTF8String
                .fromString("tag"), v) }
          val branches = ManifestPrune.listBranches(root).sorted
            .map { b => InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(b),
              org.apache.spark.unsafe.types.UTF8String
                .fromString("branch"),
              ManifestPrune.currentVersion(s,
                ManifestPrune.branchRoot(root, b))) }
          (tags ++ branches).toArray
        }
      }
  }
}

/** `graft.db.t.partitions` — Iceberg's `partitions` metadata table:
  * the manifest aggregated by (bucket, spec_id), one row per group
  * with file/physical/hidden/live sums and the group's key range.
  * For a bucketed chain this is the SPJ balance/skew audit (is any
  * bucket fat?); for an unbucketed one, a per-spec layout summary.
  * Same distributed V1Scan shape as `.files` — the aggregation runs
  * executor-side over the manifest parquet. */
private[sources] class GraftPartitionsTable(root: String,
                                            qualified: String,
                                            asOfVersion: Option[Long] =
                                              None)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  override def name(): String = qualified

  override def schema(): StructType = StructType(Seq(
    StructField("bucket", IntegerType),
    StructField("spec_id", IntegerType),
    StructField("n_files", LongType),
    StructField("n_rows", LongType),
    StructField("hidden_rows", LongType),
    StructField("live_rows", LongType),
    StructField("min_key", StringType),
    StructField("max_key", StringType)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  private def frame(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val cur = asOfVersion.getOrElse(ManifestPrune.currentVersion(s, root))
    val m0 = ManifestPrune.immutableParquet(s,
      ManifestPrune.manifestOf(root, cur))
    val m1 =
      if (m0.columns.contains("spec_id"))
        m0.withColumn("spec_id",
          coalesce(col("spec_id").cast("int"), lit(0)))
      else m0.withColumn("spec_id", lit(0))
    val m =
      if (m1.columns.contains("bucket"))
        m1.withColumn("bucket", col("bucket").cast("int"))
      else m1.withColumn("bucket",
        lit(null).cast(IntegerType))
    val hidden = ManifestPrune.dvOf(root, cur) match {
      case Some(dv) =>
        ManifestPrune.immutableParquet(s, dv).groupBy(col("file"))
          .agg(count(lit(1)).as("hidden_rows"))
      case None =>
        m.select(col("file")).limit(0)
          .withColumn("hidden_rows", lit(0L))
    }
    m.join(hidden, Seq("file"), "left")
      .withColumn("hidden_rows", coalesce(col("hidden_rows"), lit(0L)))
      .groupBy(col("bucket"), col("spec_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("hidden_rows")).as("hidden_rows"),
        sum(col("n_rows") - col("hidden_rows")).as("live_rows"),
        min(col("min_key")).cast("string").as("min_key"),
        max(col("max_key")).cast("string").as("max_key"))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan =
      new org.apache.spark.sql.connector.read.V1Scan {
        override def readSchema(): StructType = schema()
        override def description(): String = s"graft-partitions $root"
        override def toV1TableScan[T <: org.apache.spark.sql.sources
            .BaseRelation with org.apache.spark.sql.sources.TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          (new org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext =
              context
            override def schema: StructType = readSchema()
            override def buildScan()
                : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              frame(context.sparkSession).rdd
          }).asInstanceOf[T]
      }
  }
}

/** `graft.db.t.history` — DESCRIBE HISTORY as a relation (Iceberg's
  * metadata-table convention): one row per still-readable version
  * with the chain's planner arithmetic, computed by
  * [[ManifestPrune.describeHistory]] at scan time and served through
  * a driver-local scan. History is O(versions) metadata rows — never
  * a data read — which is exactly what LocalScan is for. */
private[sources] class GraftHistoryTable(root: String,
                                         qualified: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  override def name(): String = qualified

  override def schema(): StructType = StructType(Seq(
    StructField("version", LongType),
    StructField("kind", StringType),
    StructField("n_files", LongType),
    StructField("physical_rows", LongType),
    StructField("hidden_rows", LongType),
    StructField("live_rows", LongType),
    StructField("committed_at_ms", LongType),
    StructField("note", StringType)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema()
        override def description(): String = s"graft-history $root"
        override def rows(): Array[InternalRow] =
          ManifestPrune.describeHistory(SparkSession.active, root)
            .collect().map { r =>
              InternalRow(r.getLong(0),
                org.apache.spark.unsafe.types.UTF8String
                  .fromString(r.getString(1)),
                r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
                r.getLong(6),
                org.apache.spark.unsafe.types.UTF8String
                  .fromString(r.getString(7)))
            }
      }
  }
}
