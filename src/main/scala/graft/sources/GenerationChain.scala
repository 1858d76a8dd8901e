package graft.sources

import graft.operators.{GenerationLease, MergeOps}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The generation chain of a served layout table, and the verbs that
  * advance or inspect it without rewriting rows: column mapping
  * (RENAME / DROP / ADD COLUMNS), tags, VACUUM, the change-feed read,
  * the serving resync and the DESCRIBE HISTORY rows. Each verb exists
  * once for both layouts. A flat [[CorpusLayout]] table is a
  * [[PartitionedLayout]] table with no partition column (Iceberg's
  * unpartitioned spec), so the verbs branch only where the layouts
  * really differ:
  *
  *  1. where generation dirs live — `layoutRoot` or
  *     `layoutRoot/partitioned` — and the catalog name ([[Chain]]);
  *  2. which dirs hold data files — the generation root, or each
  *     `pcol=v/` dir ([[dataDirs]]);
  *  3. the staging DDL at the swing — `PARTITIONED BY` plus partition
  *     registration ([[stageOverFiles]], [[swing]]);
  *  4. the partition column can be neither renamed, dropped nor
  *     shadowed (it names directories).
  *
  * Local-filesystem assumption: generations share bytes through hard
  * links ([[MergeOps.linkOrCopy]], a copy where the filesystem refuses
  * links), and generation, partition and sidecar dirs are listed with
  * `java.nio`. On HDFS or an object store both would go through
  * Hadoop's `FileSystem` (`listStatus` for the listings; a link becomes
  * a manifest entry, the Delta/Iceberg recipe, since object stores have
  * no hard links).
  */
object GenerationChain {

  /** One layout table's chain: its corpus, logical table and layout. */
  final case class Chain(corpusDir: String, table: String, partitioned: Boolean) {

    /** The namespace key of every writer of this chain: its generation
      * lease, tag files and epoch marker. The spelling is on disk
      * (`tags/documents__x`, `tags/documents@partitioned__x`), so tags
      * written by earlier releases keep pinning.
      */
    def key: String = if (partitioned) s"$table@partitioned" else table

    def keyCol: String = CorpusLayout.keyed.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' has no bucketed layout key (CorpusLayout.keyed)"))

    def catalogName: String =
      if (partitioned) PartitionedLayout.tableName(table, corpusDir)
      else CorpusLayout.tableName(table, corpusDir)
  }

  /** The chain a `graft_cl_…` / `graft_plt_…` catalog name serves, via
    * the layout root's `_CORPUS` marker; None for any other name.
    */
  def forCatalogName(s: SparkSession, name: String): Option[Chain] =
    PartitionedLayout.corpusForTable(s, name)
      .map { case (d, t) => Chain(d, t, partitioned = true) }
      .orElse(CorpusLayout.corpusForTable(s, name)
        .map { case (d, t) => Chain(d, t, partitioned = false) })

  private def ls(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val kids = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.toVector
      } finally kids.close()
    }

  private def norm(p: String): String = Paths.get(p).normalize.toString

  /** The dir holding the chain's generation dirs. */
  private[graft] def rootDir(s: SparkSession, c: Chain): String =
    MergeOps.layoutRoot(s, c.corpusDir) + (if (c.partitioned) "/partitioned" else "")

  /** Generation dirs, oldest→newest: generation 0 is the base
    * materialize build at `<table>`, later ones are `<table>_vN`. Pure
    * directory listing — no Spark job. Empty without a layout conf.
    */
  def generations(s: SparkSession, c: Chain): Seq[(Int, String)] =
    CorpusLayout.layoutRoot(s, c.corpusDir).toSeq.flatMap { _ =>
      val base = rootDir(s, c)
      val prefix = s"${c.table}_v"
      ls(Paths.get(base)).map(_.getFileName.toString).collect {
        case n if n == c.table => 0 -> s"$base/$n"
        case n if n.startsWith(prefix) && n.drop(prefix.length).nonEmpty &&
          n.drop(prefix.length).forall(_.isDigit) =>
          n.drop(prefix.length).toInt -> s"$base/$n"
      }.sortBy(_._1)
    }

  /** Path of the next generation dir. */
  private[graft] def nextGeneration(s: SparkSession, c: Chain): String =
    s"${rootDir(s, c)}/${c.table}_v${(generations(s, c).map(_._1) :+ 0).max + 1}"

  /** Dirs holding a generation's data files: the root of a flat
    * generation, each `pcol=v/` dir of a partitioned one.
    */
  private def dataDirs(gen: String, partitioned: Boolean): Seq[Path] =
    if (partitioned) PartitionedLayout.partDirs(gen).map(_._2)
    else Seq(Paths.get(gen))

  /** Base data files of one data dir: markers, sidecar dirs and hidden
    * checksum files excluded.
    */
  private def dataFiles(dir: Path): Seq[Path] = ls(dir).filter { p =>
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") &&
      Files.isRegularFile(p)
  }

  /** A generation the chain may serve: the `_BUCKETS` marker plus the
    * marker the layout's swings write last — `_SUCCESS` on a flat
    * generation (Spark's job commit, or written by hand for one whose
    * root no Spark job wrote), `_PCOL` on a partitioned one.
    */
  private[graft] def complete(c: Chain, gen: String): Boolean =
    Files.exists(Paths.get(gen, CorpusLayout.BucketsMarker)) &&
      Files.exists(Paths.get(gen,
        if (c.partitioned) PartitionedLayout.PcolMarker else "_SUCCESS"))

  private def repairServing(s: SparkSession, c: Chain): Option[String] =
    if (c.partitioned) PartitionedLayout.repairServing(s, c.corpusDir, c.table)
    else CorpusLayout.repairServing(s, c.corpusDir, c.table)

  /** The chain's served logical frame, when the layout table is served. */
  def served(s: SparkSession, c: Chain): Option[DataFrame] =
    if (c.partitioned) PartitionedLayout.ifPresent(s, c.corpusDir, c.table)
    else CorpusLayout.ifPresent(s, c.corpusDir, c.table)

  /** Cross-writer catalog resync: point this session's catalog at the
    * newest COMPLETE generation on disk. The swing verbs update the
    * catalog of the session that ran them; a concurrent writer in
    * another JVM advances the chain on disk while this JVM's catalog
    * still names an older generation — and an apply planned against
    * that stale frame would silently drop the other writer's edits (the
    * lost update). Every chain-mutating verb calls this first, INSIDE
    * the [[GenerationLease]], so it works on the chain tip by
    * construction. An incomplete dir (a crashed writer's leftover) never
    * moves the catalog. Returns the re-attached path when a resync
    * happened; None when the catalog already agreed with disk.
    */
  def resync(s: SparkSession, c: Chain): Option[String] = {
    val t = c.catalogName
    if (!s.catalog.tableExists(t)) repairServing(s, c)
    else generations(s, c).reverse.collectFirst { case (_, p) if complete(c, p) => p }
      .filterNot(p => norm(p) == norm(MergeOps.tableLayout(s, t)._1))
      .flatMap { _ =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        repairServing(s, c)
      }
  }

  /** Hard-link every base data file of `curLoc` (and each data dir's
    * `_dv` sidecar when `withDv`) to the same relative place under
    * `vpath`, carrying the `_CLUSTER` marker — the copy step of the MOR
    * and metadata swings.
    */
  private[graft] def linkForward(curLoc: String, vpath: String,
                                 partitioned: Boolean, withDv: Boolean): Unit = {
    val cur = Paths.get(curLoc)
    Files.createDirectories(Paths.get(vpath))
    for (d <- dataDirs(curLoc, partitioned)) {
      val dst = Paths.get(vpath).resolve(cur.relativize(d).toString)
      val files = dataFiles(d)
      if (files.nonEmpty) Files.createDirectories(dst)
      files.foreach(f => MergeOps.linkOrCopy(f, dst.resolve(f.getFileName)))
      val dv = d.resolve(CorpusLayout.DvDir)
      if (withDv && Files.isDirectory(dv)) {
        val walk = Files.walk(dv)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.foreach { p =>
            val to = dst.resolve(d.relativize(p).toString)
            if (Files.isDirectory(p)) Files.createDirectories(to)
            else MergeOps.linkOrCopy(p, to)
          }
        } finally walk.close()
      }
    }
    val cl = cur.resolve(CorpusLayout.ClusterMarker)
    if (Files.exists(cl))
      Files.copy(cl, Paths.get(vpath, CorpusLayout.ClusterMarker))
  }

  /** Register `<t>_staging` over generation files already on disk (the
    * MOR and metadata swings; bucketed WRITES register through
    * saveAsTable instead). `fileSchema` is the files' physical schema —
    * a partition column names directories and is never a file column.
    * SORTED BY states what the files honor: z-clustered files sort by
    * `_zv`, never the key.
    */
  private[graft] def stageOverFiles(s: SparkSession, t: String, key: String,
                                    vpath: String, buckets: Int,
                                    fileSchema: StructType,
                                    pcol: Option[String]): Unit = {
    val sortCol = CorpusLayout.sortColFor(vpath).getOrElse(key)
    val cols = fileSchema.toDDL + pcol.fold("")(pc => s", $pc STRING")
    s.sql(s"DROP TABLE IF EXISTS ${t}_staging")
    s.sql(s"CREATE TABLE ${t}_staging ($cols) USING PARQUET " +
      pcol.fold("")(pc => s"PARTITIONED BY ($pc) ") +
      s"CLUSTERED BY ($key) SORTED BY ($sortCol) INTO $buckets BUCKETS " +
      s"LOCATION '$vpath'")
  }

  /** Commit a staged generation: markers (the completeness marker last,
    * so a crash anywhere before it leaves a dir [[resync]] ignores),
    * catalog swap, partition registration, epoch bump, and the
    * stats-manifest carry (a no-op without a manifest).
    */
  private[graft] def swing(s: SparkSession, c: Chain, curLoc: String,
                           vpath: String, buckets: Int,
                           pcol: Option[String]): Unit = {
    CorpusLayout.writeBucketsMarker(vpath, buckets)
    pcol match {
      case Some(pc) => Files.write(Paths.get(vpath, PartitionedLayout.PcolMarker),
        pc.getBytes("UTF-8"))
      case None => Files.write(Paths.get(vpath, "_SUCCESS"), Array.emptyByteArray)
    }
    val t = c.catalogName
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"ALTER TABLE ${t}_staging RENAME TO $t")
    pcol.foreach(registerPartitions(s, t, vpath, _))
    CorpusLayout.refreshRelationCache(s, t)
    CorpusLayout.bumpEpoch(s, c.corpusDir, c.key, vpath)
    StatsManifest.refreshAfterApply(s, curLoc, vpath)
  }

  /** Register a partitioned generation's partition dirs on a freshly
    * attached table as pure catalog metadata: the driver knows the dirs
    * from one listing of the generation root, where `RECOVER
    * PARTITIONS` would walk every file under it. Values are
    * directory-safe by the layout's contract ([A-Za-z0-9._-]+), so they
    * quote into DDL unescaped; IF NOT EXISTS because a staging write
    * already registered the partitions it wrote.
    */
  private[graft] def registerPartitions(s: SparkSession, t: String,
                                        vpath: String, pcol: String): Unit = {
    val parts = PartitionedLayout.partDirs(vpath)
    if (parts.nonEmpty)
      s.sql(s"ALTER TABLE $t ADD IF NOT EXISTS " + parts.map { case (v, p) =>
        s"PARTITION ($pcol='$v') LOCATION '$p'" }.mkString(" "))
  }

  // ── Column mapping: DROP / RENAME / ADD COLUMNS as METADATA-ONLY
  // generations (SURVEY §2.I). The new generation hard-links every byte
  // of its parent (data files AND dv sidecars) and only the `_MAPPING`
  // marker changes (or, for ADD, one footer-only schema-anchor file
  // lands); the serving read projects physical→logical (rename = alias,
  // drop = omission). Applies keep working across the boundary —
  // changesets speak LOGICAL names and translate back at the swing — and
  // the mapping folds away at the next full rewrite, when logical names
  // become the physical truth. Renaming columns a table-format index
  // derives from (documents.text → SignatureStore) leaves the index
  // keyed on the old semantics — retrain in the same maintenance window,
  // as with rebucket.

  private def logicalColumns(m: Map[String, Option[String]],
                             phys: StructType): Seq[String] =
    phys.fieldNames.toSeq.flatMap(p => m.get(p) match {
      case None => Some(p)
      case Some(Some(l)) => Some(l)
      case Some(None) => None
    })

  private def physicalFor(m: Map[String, Option[String]], logical: String): String =
    m.collectFirst { case (p, Some(l)) if l == logical => p }.getOrElse(logical)

  /** Neither the layout key (row identity, bucket placement) nor the
    * partition column (it names directories) can be renamed or dropped.
    */
  private def requireMovable(c: Chain, pcol: Option[String], column: String,
                             verb: String): Unit = {
    require(column != c.keyCol, s"cannot $verb the layout key '${c.keyCol}'")
    pcol.foreach(pc => require(column != pc,
      s"cannot $verb the partition column '$pc' — it names the layout's directories"))
  }

  /** Rename a logical column — a metadata-only generation (no file
    * rewritten). Fails loudly on the key, the partition column, an
    * unknown source, or a colliding target. Returns the new generation's
    * path.
    */
  def renameColumn(s: SparkSession, c: Chain, from: String, to: String): String = {
    require(to.nonEmpty && !to.startsWith("_"), s"invalid target column name '$to'")
    metadataSwing(s, c) { (m, phys, pcol) =>
      requireMovable(c, pcol, from, "rename")
      val logical = logicalColumns(m, phys)
      require(logical.contains(from),
        s"no column '$from' — logical columns are ${logical.mkString(", ")}")
      require(!logical.contains(to), s"column '$to' already exists")
      val p = physicalFor(m, from)
      if (p == to) m - p else m + (p -> Some(to))
    }
  }

  /** Drop a logical column — metadata-only: linked files keep the bytes,
    * the serving projection omits them, and new rows fill the physical
    * slot with NULL. Returns the new generation's path.
    */
  def dropColumn(s: SparkSession, c: Chain, column: String): String =
    metadataSwing(s, c) { (m, phys, pcol) =>
      requireMovable(c, pcol, column, "drop")
      val logical = logicalColumns(m, phys)
      require(logical.contains(column),
        s"no column '$column' — logical columns are ${logical.mkString(", ")}")
      m + (physicalFor(m, column) -> None)
    }

  /** ADD COLUMNS as a metadata-only generation: every existing byte
    * hard-links; the only new bytes are ONE zero-row "schema anchor"
    * parquet file (bucket-0 named, footer only) in the first data dir,
    * carrying the widened physical schema. Serving, repair and
    * time-travel reads infer schema by footer union, so the anchor IS
    * the durable record of the ADD, and parquet NULL-fills a requested
    * column a file lacks, so every untouched row reads the new columns
    * as NULL (the Delta/Iceberg metadata-only ADD COLUMN). The anchor
    * rides bucket 0 until the next rewrite of that bucket folds it away.
    * Fails loudly on a name colliding with any LOGICAL or PHYSICAL column
    * (a dropped physical slot must not be shadowed — the mapping entry
    * would hide the new column too; the partition column is physical).
    */
  def addColumns(s: SparkSession, c: Chain, cols: Seq[(String, DataType)]): String = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    require(cols.map(_._1).distinct.size == cols.size,
      "duplicate column in ADD COLUMNS")
    cols.foreach { case (n, _) =>
      require(n.nonEmpty && !n.startsWith("_"), s"invalid column name '$n'") }
    metadataSwing(s, c, widen = cols) { (m, phys, _) =>
      val taken = (logicalColumns(m, phys) ++ phys.fieldNames).toSet
      cols.foreach { case (n, _) =>
        require(!taken.contains(n), s"column '$n' already exists") }
      m
    }
  }

  /** The shared metadata-only swing: link the whole generation forward,
    * write the updated `_MAPPING` (and, when widening, the schema
    * anchor), stage the catalog table over the files and swing onto it.
    * `update` receives (current mapping, catalog physical schema,
    * partition column) and returns the new mapping.
    */
  private def metadataSwing(s: SparkSession, c: Chain,
                            widen: Seq[(String, DataType)] = Seq.empty)
      (update: (Map[String, Option[String]], StructType, Option[String]) =>
        Map[String, Option[String]]): String =
    GenerationLease.withLease(s, c.corpusDir, c.key) {
      resync(s, c)
      val t = c.catalogName
      require(s.catalog.tableExists(t),
        s"no layout for (${c.corpusDir}, ${c.table}) — materialize it first")
      val (curLoc, buckets) = MergeOps.tableLayout(s, t)
      val pcol = if (c.partitioned) Some(PartitionedLayout.readPcol(curLoc)) else None
      val phys = CorpusLayout.physicalSchema(s, t)
      val newMapping = update(CorpusLayout.readMapping(curLoc), phys, pcol)
      val vpath = nextGeneration(s, c)
      linkForward(curLoc, vpath, c.partitioned, withDv = true)
      if (newMapping.nonEmpty) CorpusLayout.writeMapping(vpath, newMapping)
      val fileSchema = StructType(phys.filterNot(f => pcol.contains(f.name)) ++
        widen.map { case (n, dt) => StructField(n, dt, nullable = true) })
      if (widen.nonEmpty)
        writeSchemaAnchor(s, dataDirs(vpath, c.partitioned).headOption.getOrElse(
          throw new IllegalStateException(s"no data dir under $vpath to anchor the ADD")),
          fileSchema)
      stageOverFiles(s, t, c.keyCol, vpath, buckets, fileSchema, pcol)
      swing(s, c, curLoc, vpath, buckets, pcol)
      vpath
    }

  /** Write [[addColumns]]' zero-row schema-anchor file into `dir`, named
    * as a bucket-0 file so bucket discipline holds (zero rows trivially
    * satisfy the bucket's key-placement and sort invariants).
    */
  private def writeSchemaAnchor(s: SparkSession, dir: Path,
                                schema: StructType): Unit = {
    val stage = dir.resolve("_anchor_stage")
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      .repartition(1).write.parquet(stage.toString)
    val src = dataFiles(stage).headOption.getOrElse(throw new IllegalStateException(
      "empty-frame write produced no schema-anchor file"))
    val n = src.getFileName.toString
    val bucketed = if (n.contains(".c000")) n.replace(".c000", "_00000.c000")
      else n.stripSuffix(".parquet") + "_00000.parquet"
    Files.move(src, dir.resolve(bucketed))
    graft.FsUtil.deleteRecursively(stage)
  }

  // ── Tags: named generation refs (Iceberg's tag shape) — release
  // management for the chain: a tag pins the generation a run read,
  // `VERSION AS OF 'name'` reads it forever (vacuum keeps tagged
  // generations like snapshot pins), and dropping the tag releases the
  // bytes at the next vacuum. One tiny file per (chain key, tag) under
  // the layout root, `generation\tpath`.

  private def tagsDir(s: SparkSession, corpusDir: String): Path =
    Paths.get(MergeOps.layoutRoot(s, corpusDir), "tags")

  private def tagFile(s: SparkSession, c: Chain, name: String): Path = {
    require(name.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"invalid tag name '$name' — [A-Za-z][A-Za-z0-9_.-]*")
    tagsDir(s, c.corpusDir).resolve(s"${c.key}__$name")
  }

  /** name → (generation, generation dir) of every tag of the chain. */
  private def tagEntries(s: SparkSession, c: Chain): Map[String, (Int, String)] = {
    val prefix = s"${c.key}__"
    ls(tagsDir(s, c.corpusDir)).filter(_.getFileName.toString.startsWith(prefix))
      .map { f =>
        val Array(g, p) = new String(Files.readAllBytes(f), "UTF-8")
          .split("\t", 2): @unchecked
        f.getFileName.toString.stripPrefix(prefix) -> (g.toInt, p)
      }.toMap
  }

  /** Tag a retained generation (default: the served one) with `name`.
    * Fails on an existing tag (retagging is drop + create — an
    * accidental move of a name a training run depends on must be loud).
    * Returns the tagged generation dir.
    */
  def tagGeneration(s: SparkSession, c: Chain, name: String,
                    generation: Int = -1): String =
    GenerationLease.withLease(s, c.corpusDir, c.key) {
      resync(s, c)
      val gens = generations(s, c)
      val g = if (generation < 0) gens.last._1 else generation
      val p = gens.toMap.getOrElse(g, throw new IllegalArgumentException(
        s"generation $g of (${c.corpusDir}, ${c.table}) is not retained — " +
          s"have ${gens.map(_._1).mkString(", ")}"))
      val f = tagFile(s, c, name)
      Files.createDirectories(f.getParent)
      require(!Files.exists(f),
        s"tag '$name' already exists for ${c.key} (generation " +
          s"${tags(s, c).getOrElse(name, -1)}) — dropTag first")
      Files.write(f, s"$g\t$p".getBytes("UTF-8"))
      p
    }

  /** Drop a tag; returns whether it existed. The tagged generation's
    * bytes reclaim at the NEXT vacuum (tags pin, they don't own).
    */
  def dropTag(s: SparkSession, c: Chain, name: String): Boolean =
    Files.deleteIfExists(tagFile(s, c, name))

  /** Retained tags of the chain: name → generation number. */
  def tags(s: SparkSession, c: Chain): Map[String, Int] =
    tagEntries(s, c).map { case (n, (g, _)) => n -> g }

  /** Snapshot pins ∪ tag pins — the generation dirs vacuum and the
    * compaction bound must keep. Snapshots pin flat generations only, so
    * they never match a partitioned dir.
    */
  private[graft] def pins(s: SparkSession, c: Chain): Set[String] =
    MergeOps.snapshotPins(s, c.corpusDir, c.table) ++
      tagEntries(s, c).values.map(e => norm(e._2))

  /** Reclaim drained generations: delete every generation dir strictly
    * older than the `keepLast` most recent ones, never touching the one
    * the catalog serves, a tagged one or one a retained
    * [[MergeOps.snapshot]] pins. Copy-on-write makes this safe at any
    * point AFTER old readers drain: shared bytes are hard links, so an
    * inode referenced by a surviving generation outlives the deletion of
    * every older dir that also linked it. Returns the deleted paths.
    */
  def vacuum(s: SparkSession, c: Chain, keepLast: Int = 2): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    GenerationLease.withLease(s, c.corpusDir, c.key) {
      // a concurrent writer may have advanced the chain — deleting "old"
      // generations judged from a stale catalog could reclaim the dir an
      // in-flight apply links from
      resync(s, c)
      val t = c.catalogName
      require(s.catalog.tableExists(t), s"no layout for (${c.corpusDir}, ${c.table})")
      val pinned = pins(s, c) + norm(MergeOps.tableLayout(s, t)._1)
      generations(s, c).dropRight(keepLast).collect {
        case (_, p) if !pinned.contains(norm(p)) =>
          graft.FsUtil.deleteRecursively(Paths.get(p))
          p
      }
    }
  }

  /** The change data feed across generations `(fromGen, toGen]` — what
    * the applies changed, per generation, at delta cost (the `_cdf`
    * sidecars are changeset-sized; the corpus is never read, let alone
    * diffed). Requires [[MergeOps.ChangeFeedKey]] to have been on for
    * every row-changing apply in the range — a missing sidecar fails
    * loudly (deriving it silently would hide that the feed contract was
    * broken). Generations with no row changes (metadata swings, no-op
    * applies, compaction, rebucket) contribute empty slices. Slices
    * speak the LOGICAL schema of their generation; across a rename
    * boundary the union NULL-pads per era (consumers of a renamed feed
    * project per slice, Delta CDF's column-mapping caveat). SQL
    * spelling: `SELECT * FROM graft_changes('<table>', from[, to])`.
    */
  def changeFeed(s: SparkSession, c: Chain, fromGen: Int, toGen: Int = -1): DataFrame = {
    val gens = generations(s, c).toMap
    val top = if (toGen < 0) gens.keys.max else toGen
    require(fromGen >= 0 && fromGen < top,
      s"changeFeed needs 0 <= fromGen < toGen, got ($fromGen, $top)")
    (fromGen + 1 to top).flatMap { g =>
      val p = gens.getOrElse(g, throw new IllegalArgumentException(
        s"generation $g of (${c.corpusDir}, ${c.table}) is not retained — " +
          s"have ${gens.keys.toSeq.sorted.mkString(", ")}"))
      val cdf = Paths.get(p, MergeOps.CdfDir)
      if (!Files.isDirectory(cdf)) {
        // only a generation that changed no rows may lack the sidecar
        if (rowPreserving(c, gens, g)) None
        else throw new IllegalStateException(
          s"generation $g ($p) carries no change-feed sidecar — enable " +
            s"${MergeOps.ChangeFeedKey} before applying")
      } else if (dataFiles(cdf).isEmpty) None
      else Some(s.read.option("mergeSchema", "true").parquet(cdf.toString)
        .drop(MergeOps.SchemaFpCol) // streaming-reader stamp, not feed payload
        .withColumn(MergeOps.CommitGenCol, lit(g)))
    }.reduceLeftOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse {
        // every generation in range changed no rows — a legitimate
        // quiet window: an EMPTY feed in the serving's logical shape
        served(s, c).getOrElse(throw new IllegalStateException(
            s"no layout for (${c.corpusDir}, ${c.table})"))
          .limit(0)
          .withColumn(MergeOps.ChangeTypeCol, lit(null).cast("string"))
          .withColumn(MergeOps.CommitGenCol, lit(null).cast("int"))
      }
  }

  /** A generation with no row-level changes: every data file of the
    * previous generation — base files and `_dv` sidecar files alike —
    * rides forward under the same relative name (metadata swings and
    * no-op applies link everything; a MOR apply links every base file
    * but rewrites the touched sidecars). Compaction and rebucket rewrite
    * every name, so they stamp an empty `_cdf` instead; name
    * preservation is the conservative test — false negatives fail
    * loudly, never silently.
    */
  private def rowPreserving(c: Chain, gens: Map[Int, String], g: Int): Boolean =
    gens.get(g - 1).exists { prev =>
      def names(gen: String): Set[String] =
        dataDirs(gen, c.partitioned).flatMap { d =>
          val dv = d.resolve(CorpusLayout.DvDir)
          (dataFiles(d) ++ dataFiles(dv.resolve("tombstones")) ++
            dataFiles(dv.resolve("deltas")))
            .map(f => Paths.get(gen).relativize(f).toString)
        }.toSet
      val p = names(prev)
      p.nonEmpty && p.subsetOf(names(gens(g)))
    }

  /** DESCRIBE HISTORY rows, oldest first: (generation, path,
    * committed_at, files, bytes, served, pinned, dv, mapped). `files` and
    * `bytes` count base data files only — sidecars show as the `dv`
    * flag — and hard-linked bytes count in every generation that links
    * them (the inode-dedup'd number is vacuum's concern). Pure driver-side
    * listing, no Spark job.
    */
  def history(s: SparkSession, c: Chain): Seq[Row] = {
    val t = c.catalogName
    if (!s.catalog.tableExists(t)) repairServing(s, c)
    val servedLoc =
      if (s.catalog.tableExists(t)) Some(norm(MergeOps.tableLayout(s, t)._1)) else None
    val pinned = pins(s, c)
    generations(s, c).map { case (g, p) =>
      val dirs = dataDirs(p, c.partitioned)
      val files = dirs.flatMap(dataFiles)
      Row(g, p, new java.sql.Timestamp(CorpusLayout.commitTsOf(p)),
        files.size, files.map(Files.size(_)).sum,
        servedLoc.contains(norm(p)), pinned.contains(norm(p)),
        dirs.exists(d => CorpusLayout.hasDv(d.toString)),
        CorpusLayout.readMapping(p).nonEmpty)
    }
  }
}
