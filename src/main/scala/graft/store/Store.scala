package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lag, lead, lit, struct, when}

/** Engine-managed table catalog (SURVEY §2.A O-2…O-5, §7.1 step 6).
  *
  * The reference persists every layer into MySQL over JDBC and manages
  * it with external DDL + TRUNCATE choreography
  * (tools/database.py:19-151; pipeline_etl.ipynb:469-474,540-556).
  * Here the engine owns its tables: parquet-backed catalog tables with
  * idempotent full-overwrite semantics (the reference's contract,
  * docs/architecture_notes.md:251-254) — no external RDBMS in the
  * execution path.
  *
  * Scale notes: `overwrite` maps to an atomic catalog swap of parquet
  * files (no row-at-a-time JDBC inserts); `partitionBy` turns the fact
  * table into partition-pruned scans (e.g. by year); appends are new
  * files, not transactions.
  */
object Store {

  /** Backtick-quote a (possibly db-qualified) identifier for SQL-text
    * DDL — each dot-separated part quoted, embedded backticks doubled,
    * so names with reserved words or odd characters can't break (or
    * inject into) the statement. */
  def quoted(ident: String): String =
    ident.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** CREATE DATABASE IF NOT EXISTS + USE (replaces database.py:19-42's
    * DROP/CREATE DATABASE round trip; idempotent). */
  def ensureDatabase(spark: SparkSession, name: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${quoted(name)}")
    spark.catalog.setCurrentDatabase(name)
  }

  /** Delete the on-disk default location of a MANAGED table that is
    * absent from the catalog. An in-memory catalog forgets its tables
    * when the JVM exits, but the warehouse directory persists — so
    * debris from a previous run (or a crashed write) makes the next
    * `saveAsTable` fail with LOCATION_ALREADY_EXISTS even though the
    * catalog has no such table. The debris is unreachable as a table
    * either way; clear it so creation paths are idempotent.
    *
    * SCOPED to sessions on the in-memory catalog — the only scenario
    * where "absent from the catalog" proves the path is debris. Under a
    * persistent (Hive) metastore, catalog-absence can be a case-mapping
    * mismatch or data staged at the default path by an external
    * process; deleting there would silently destroy live data, so the
    * cleanup is skipped (a genuinely stale location then surfaces as
    * LOCATION_ALREADY_EXISTS for the operator to resolve). Deletions
    * are logged with the path so destruction is observable. */
  private def clearStaleLocation(spark: SparkSession, table: String): Unit = {
    val inMemoryCatalog = spark.sparkContext.getConf
      .get("spark.sql.catalogImplementation", "in-memory") == "in-memory"
    if (!inMemoryCatalog) return
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    if (!cat.tableExists(ident)) {
      val loc = new org.apache.hadoop.fs.Path(cat.defaultTablePath(
        ident.copy(database = ident.database.orElse(Some(cat.getCurrentDatabase)))))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) {
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"clearStaleLocation: deleting catalog-orphaned path $loc for table $table")
        fs.delete(loc, true)
        ()
      }
    }
  }

  /** Idempotent full reload — the TRUNCATE+INSERT contract as one
    * atomic overwrite. Optional partition columns for big tables. */
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    clearStaleLocation(df.sparkSession, table)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).saveAsTable(table)
  }

  /** Append (the reference's dims/fact append writes, O-3). */
  def append(df: DataFrame, table: String): Unit = {
    clearStaleLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Append).format("parquet").saveAsTable(table)
  }

  /** Append to a BUCKETED table, mirroring its catalog bucket spec —
    * a plain [[append]] would fail analysis (bucketing mismatch), and
    * silently dropping the spec would break the no-shuffle join
    * guarantee the table exists for. */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val spec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bucket spec — use append"))
    val w = df.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(spec.numBuckets,
        spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
      w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else w).saveAsTable(table)
  }

  /** Bucketed overwrite: co-locates future joins/aggregations on the
    * bucket key — two tables bucketed the same way join with NO
    * exchange on either side, the decisive shuffle-elimination move for
    * repeated large-fact⋈large-fact joins at 100 TB. */
  def overwriteBucketed(
      df: DataFrame, table: String, bucketCols: Seq[String], numBuckets: Int): Unit = {
    clearStaleLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Read back a managed table (replaces the JDBC SK read-back O-4 —
    * though with in-plan SKs the round trip itself is gone). */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Keyed snapshot diff — the "what changed between corpus v1 and
    * v2" audit: per key, `added` (right only), `removed` (left only),
    * `changed` (both, any non-key column differs), `unchanged`.
    * Comparison is COLUMN-WISE null-safe equality on the native
    * values (no string rendering, no hashing — a double compares as
    * its bits, so two engines reading the same files agree), via one
    * full-outer join on the key. Schemas must match exactly — a
    * column mismatch is a schema migration, not a data diff, and
    * silently intersecting columns would report "unchanged" across a
    * dropped field. */
  def tableDiff(left: DataFrame, right: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "tableDiff: no key columns")
    require(left.columns.sameElements(right.columns),
      s"tableDiff: schema mismatch (${left.columns.mkString(",")} vs ${right.columns.mkString(",")})")
    val valCols = left.columns.filterNot(keyCols.contains).toSeq
    def packed(df: DataFrame, as: String): DataFrame =
      df.select((keyCols.map(col) :+ struct(
        (lit(1L).as("__present") +: valCols.map(col)): _*).as(as)): _*)
    val changed = valCols
      .map(c => !(col(s"__lv.$c") <=> col(s"__rv.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // Null-safe (<=>) key equality — still an equi-join (Spark's
    // EqualNullSafe extracts as a hash-join key), but a NULL key now
    // matches its counterpart and diffs column-wise instead of being
    // double-reported as added+removed.
    val cond = keyCols.map(k => col(s"__l.$k") <=> col(s"__r.$k")).reduce(_ && _)
    packed(left, "__lv").alias("__l")
      .join(packed(right, "__rv").alias("__r"), cond, "full_outer")
      .select((keyCols.map(k =>
          when(col("__lv").isNotNull, col(s"__l.$k")).otherwise(col(s"__r.$k")).as(k)) :+
        when(col("__lv").isNull, "added")
          .when(col("__rv").isNull, "removed")
          .when(changed, "changed")
          .otherwise("unchanged").as("status")): _*)
  }

  /** SCD TYPE 2 — versioned dimension history (Kimball's slowly
    * changing dimension type 2; the reference's own docs recommend it
    * as the follow-on to their TRUNCATE+reload dims,
    * vincent_valentin/docs/architecture_notes.md:216-221). A versioned
    * dim carries, besides its key and attribute columns, the three
    * meta columns `valid_from` / `valid_to` / `is_current`: one row
    * per version, `valid_to` NULL on the open version, and
    * half-open validity `[valid_from, valid_to)`.
    *
    * [[scd2Init]] bootstraps the table from a first snapshot;
    * [[scd2Apply]] folds a change batch in: a change whose attributes
    * differ from the key's previous version closes that version at the
    * change's effective point and opens a new one; attribute-identical
    * changes are NO-OPS (no version churn); multiple changes per key
    * in one batch chain in effective order; new keys insert.
    * [[scd2AsOf]] is the point-in-time read.
    *
    * Determinism contract: the per-key timeline is (valid_from asc,
    * existing-version-first at ties); change rows carrying the SAME
    * attributes as their timeline predecessor are dropped (null-safe
    * column-wise compare, the [[tableDiff]] rule); `valid_to` =
    * next kept version's `valid_from`. Loud rejects (each one bounded
    * aggregate over batch/dim-sized frames): duplicate `(key,
    * effective)` change rows (no deterministic order), multiple open
    * versions per key (corrupt input dim), and changes effective
    * BEFORE a key's open version (retroactive history rewrites need a
    * rebuild from the full change log, not an apply).
    *
    * Scale shape: closed versions PASS THROUGH untouched (history is
    * append-mostly — the per-key window runs only over open versions +
    * the batch, not the whole history); one shuffle on the key for the
    * window; validation joins are key-equi-joins of batch-sized
    * frames. At 100 TB store the dim partitioned by `is_current` so
    * the apply reads only the open slice.
    *
    * `rebuildHistory = true` is the REPLAY-SAFE mode (the streaming
    * sink's, [[graft.streaming.StreamOps.scd2Sink]]): keys touched by
    * the batch rebuild their WHOLE timeline (closed versions included)
    * instead of only the open one, and the retroactive-change reject
    * is lifted — so re-applying an already-applied batch reconstructs
    * the identical table (every replayed change coincides with its
    * existing version row and run-dedups away), at the cost of
    * windowing affected keys' full history. Untouched keys still pass
    * through. */
  def scd2Apply(dim: DataFrame, changes: DataFrame, keyCols: Seq[String],
      effectiveCol: String, rebuildHistory: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "scd2Apply: no key columns")
    val meta = Seq("valid_from", "valid_to", "is_current")
    require(meta.forall(dim.columns.contains),
      s"scd2Apply: dim must carry ${meta.mkString("/")} (use scd2Init first)")
    val attrs = dim.columns.filterNot(c => keyCols.contains(c) || meta.contains(c)).toSeq
    require(changes.columns.toSet == (keyCols ++ attrs :+ effectiveCol).toSet,
      s"scd2Apply: changes columns ${changes.columns.mkString(",")} must be " +
        s"keys ++ attrs ++ $effectiveCol (${(keyCols ++ attrs :+ effectiveCol).mkString(",")})")
    val cur = dim.filter(col("is_current"))
    // BOTH input validations in ONE action (each was its own
    // limit(1).count() — two extra full passes per applied batch, plus
    // per-job scheduling that dominates the standing-loop scenarios):
    // a union of the two one-row violation probes costs one job and
    // scans each frame exactly once
    val violations = changes.groupBy((keyCols :+ effectiveCol).map(col): _*)
      .count().filter(col("count") > 1)
      .select(lit("dup_changes").as("__v")).limit(1)
      .unionByName(cur.groupBy(keyCols.map(col): _*)
        .count().filter(col("count") > 1)
        .select(lit("dup_open").as("__v")).limit(1))
      .collect().map(_.getString(0)).toSet
    require(!violations.contains("dup_changes"),
      s"scd2Apply: duplicate (key, $effectiveCol) rows in the change batch")
    require(!violations.contains("dup_open"),
      "scd2Apply: dim has multiple open versions for a key")
    val incoming = changes.select(
      (keyCols ++ attrs).map(col) :+ col(effectiveCol).as("valid_from") :+
        lit(1).as("__src"): _*)
    if (!rebuildHistory) {
      val retro = incoming.as("i")
        .join(cur.select((keyCols.map(col) :+ col("valid_from").as("__cvf")): _*), keyCols)
        .filter(col("valid_from") < col("__cvf")).limit(1).count()
      require(retro == 0,
        "scd2Apply: change effective before a key's open version — retroactive " +
          "rewrites need rebuildHistory = true (or a rebuild from the full change log)")
    }
    val batchKeys = changes.select(keyCols.map(col): _*).distinct()
    val windowBase =
      if (rebuildHistory) dim.join(batchKeys, keyCols, "left_semi")
      else cur
    val timeline = windowBase.select(
        (keyCols ++ attrs).map(col) :+ col("valid_from") :+ lit(0).as("__src"): _*)
      .unionByName(incoming)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("valid_from").asc, col("__src").asc)
    val attrStruct = struct(attrs.map(col): _*)
    val kept = timeline.withColumn("__prev", lag(attrStruct, 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> attrStruct))
    val versioned = kept
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(dim.columns.map(col): _*)
    val passThrough =
      if (rebuildHistory) dim.join(batchKeys, keyCols, "left_anti")
      else dim.filter(!col("is_current"))
    passThrough.unionByName(versioned)
  }

  /** The SPLIT SCD-2 store — the shape that survives 100 TB of
    * history: [[scd2Apply]] returns the whole table, so a sink built
    * on it rewrites ALL closed versions every batch (O(history) per
    * batch). Here the dimension lives as two [[Manifest]] roots
    * instead, each published by atomic manifest commits:
    *
    *  - `openRoot`: ONE row per key — the open versions. Replaced per
    *    batch: O(keys), never O(history). Bootstrap it with
    *    `Manifest.overwrite(scd2Init(...), openRoot)`.
    *  - `closedRoot`: an APPEND-ONLY log of closed versions. Rows are
    *    appended exactly once through any replay (left-anti on (key,
    *    valid_from) against the stored log — the admitPostingsBatch
    *    dedup pattern; at scales where that probe dominates, cluster
    *    the log by key or keep a (key, valid_from) registry beside it).
    *
    * One transaction: compute the rebuilt open timeline (EAGER
    * checkpoint — the write replaces the root the plan reads), append
    * the batch's newly-closed versions to the log, then replace the
    * open slice. WRITE ORDER IS LOAD-BEARING: closed-append happens
    * FIRST — a crash between the two commits leaves the old open slice
    * in place, and the replay's re-derived closed rows anti-join away
    * against the already-appended ones; the reverse order could lose a
    * closed version forever (open replaced ⇒ the replay can no longer
    * derive the version it was supposed to close). Replays re-run the
    * whole transaction idempotently. A reader racing either write
    * always resolves a complete committed snapshot, and a crash
    * between staging and commit leaves only invisible orphans for
    * [[Manifest.gc]]. [[scd2Versions]] is the read view (open ∪ log).
    *
    * RETROACTIVE-CHANGE GUARD: the apply runs in rebuildHistory mode
    * (replays demand it — a replayed change may be effective before
    * the CURRENT open version that a later change in the same batch
    * minted), which lifts [[scd2Apply]]'s retro reject. But rebuild
    * mode here sees only the OPEN slice, not the history it would need
    * to re-derive a timeline — so a genuinely retroactive change
    * (effective inside intervals already in the closed log, and not a
    * replay of a logged closure) would silently append an OVERLAPPING
    * closed version. Guarded loudly instead: after the replay
    * anti-join, any surviving (genuinely new) closed row whose
    * `valid_from` precedes its key's max logged `valid_to` is a
    * retroactive rewrite → throw before either commit, mirroring the
    * monolithic non-rebuild reject. (A legitimate new closure always
    * starts at-or-after its key's last logged closure — the open
    * version it closes did.) The probe reads the closed log restricted
    * to batch keys, the same cost class as the replay anti-join beside
    * it. */
  def scd2ApplySplit(spark: SparkSession, changes: DataFrame,
      openRoot: String, closedRoot: String, keyCols: Seq[String],
      effectiveCol: String): Unit = {
    val open = Manifest.read(spark, openRoot)
    // rebuildHistory: replayed changes must coincide-and-dedup against
    // the open versions they already minted (and retro vs an open
    // version superseded IN the replayed batch must not throw)
    val updated = scd2Apply(open, changes, keyCols, effectiveCol,
        rebuildHistory = true)
      .localCheckpoint() // EAGER: both writes below invalidate inputs
    val newlyClosed = updated.filter(!col("is_current"))
    val logSnap = Manifest.current(spark, closedRoot).filter(_.files.nonEmpty)
    val logKeyed = logSnap.map(s =>
      Manifest.readSnapshot(spark, closedRoot, s)
        .join(changes.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
        .localCheckpoint()) // read once; feeds both the replay anti-join and the retro guard
    val fresh = logKeyed match {
      case Some(log) =>
        // replay anti-join + retroactive guard in ONE materialization:
        // the guard count rides the deduped frame's eager checkpoint as
        // an Observation (left join against per-key max logged valid_to
        // preserves rows; the helper column is dropped), and the append
        // stages from the checkpointed blocks
        val maxVt = log.groupBy(keyCols.map(col): _*)
          .agg(org.apache.spark.sql.functions.max(col("valid_to")).as("__max_vt"))
        val retroObs = org.apache.spark.sql.Observation()
        val deduped = newlyClosed.join(
            log.select((keyCols :+ "valid_from").map(col): _*),
            keyCols :+ "valid_from", "left_anti")
          .join(maxVt, keyCols, "left")
          .observe(retroObs, org.apache.spark.sql.functions.sum(
            when(col("valid_from") < col("__max_vt"), 1L).otherwise(0L))
            .as("retro"))
          .drop("__max_vt")
          .localCheckpoint()
        require(retroObs.get.get("retro").flatMap(Option(_)).forall(_ == 0L),
          "scd2ApplySplit: change closes a version effective inside the closed " +
            "log's history — a retroactive rewrite needs a rebuild from the full " +
            "change log, not a split apply (would append overlapping closed versions)")
        deduped
      case None => newlyClosed
    }
    Manifest.append(fresh, closedRoot)
    Manifest.overwrite(updated.filter(col("is_current")), openRoot)
    logKeyed.foreach(_.unpersist())
    fresh.unpersist()
    updated.unpersist()
    ()
  }

  /** Read view of the split SCD-2 store: open ∪ closed-log manifests —
    * the same frame [[scd2Apply]]'s monolithic form returns
    * (spec-pinned equal). */
  def scd2Versions(spark: SparkSession, openRoot: String,
      closedRoot: String): DataFrame = {
    val open = Manifest.read(spark, openRoot)
    Manifest.current(spark, closedRoot).filter(_.files.nonEmpty) match {
      case Some(s) => open.unionByName(
        Manifest.readSnapshot(spark, closedRoot, s).select(open.columns.map(col): _*))
      case None => open
    }
  }

  /** Bootstrap a versioned dim from a first snapshot: every row is the
    * open version, `valid_from` = its `effectiveCol` value (column
    * consumed), `valid_to` NULL, `is_current` true. */
  def scd2Init(snapshot: DataFrame, keyCols: Seq[String],
      effectiveCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scd2Init: no key columns")
    require(snapshot.columns.contains(effectiveCol),
      s"scd2Init: snapshot has no $effectiveCol column")
    val vf = col(effectiveCol)
    snapshot
      .withColumn("valid_from", vf)
      .drop(effectiveCol)
      .withColumn("valid_to", lit(null).cast(snapshot.schema(effectiveCol).dataType))
      .withColumn("is_current", lit(true))
  }

  /** Point-in-time read of a versioned dim: the version rows whose
    * half-open validity `[valid_from, valid_to)` contains `at`. */
  def scd2AsOf(dim: DataFrame, at: Column): DataFrame =
    dim.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || at < col("valid_to")))

  /** Collect table (+ optional column) statistics so the cost-based
    * optimizer plans from real row counts and NDVs instead of
    * file-size guesses (SURVEY §4: CBO join reordering and broadcast
    * decisions are free once `spark.sql.cbo.enabled` is on AND stats
    * exist — this is the ANALYZE half). Run after each overwrite of a
    * table that feeds multi-join queries; cost is one scan, amortized
    * across every subsequent plan. */
  def analyze(spark: SparkSession, table: String, columns: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE ${quoted(table)} COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE ${quoted(table)} COMPUTE STATISTICS FOR COLUMNS " +
        columns.map(quoted).mkString(", "))
  }

  def drop(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")

  /** Optional JDBC compat sink (SURVEY §2.A O-2's `.write.jdbc` shim):
    * a thin passthrough for users who still need the reference's
    * MySQL-shaped landing zone. Deliberately NOT in the engine's own
    * execution path — row-at-a-time JDBC inserts are the bottleneck the
    * parquet catalog exists to remove (BASELINE.md: the reference
    * spends minutes here) — and it funnels the whole DataFrame through
    * however many partitions it has, so `coalesce` first if the target
    * DB can't take the connection fan-out. Requires the target's JDBC
    * driver on the classpath; fails fast with the driver/URL error
    * otherwise. */
  def writeJdbc(
      df: DataFrame, url: String, table: String,
      properties: java.util.Properties = new java.util.Properties(),
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).jdbc(url, table, properties)

  /** Small-file compaction: rewrite a MANAGED table into
    * ~`targetBytes`-sized files. Streaming sinks and micro-batch
    * appends accumulate file sprawl (every [[append]] is new files),
    * and at 100 TB a table of 10⁶ tiny files spends more time in
    * footer reads and task scheduling than in data — periodic
    * compaction is the standing maintenance job of any large parquet
    * store.
    *
    * Target file count = catalog-stats bytes / targetBytes, clamped to
    * [1, 2²⁰] — the clamp both caps pathological rewrites and absorbs
    * the stats-missing sentinel (`defaultSizeInBytes` = Long.MaxValue
    * for never-ANALYZEd non-file relations), which would otherwise
    * wrap to repartition(0) under Int narrowing.
    *
    * Guard rails:
    *  - EXTERNAL tables are rejected: the temp-write/swap would quietly
    *    turn them into managed tables at a NEW location — the original
    *    external path would be orphaned and direct readers of it would
    *    see frozen data forever.
    *  - The temp table is written with the table's own provider (not
    *    hard-coded parquet), so an ORC/JSON table never silently
    *    changes format.
    *  - Bucketed tables are rejected (a plain rewrite strips the
    *    co-location metadata) — recompact via [[compactBucketed]].
    *
    * UNPARTITIONED tables: a table cannot be overwritten from a plan
    * that reads it, so the rewrite goes through `<table>__compact` +
    * a catalog swap. The swap is rename-first: the original is renamed
    * to `<table>__precompact` (one metadata op), the compacted table
    * takes the name (a second metadata op), only then is the backup
    * dropped — the window where the name is absent spans two renames
    * rather than a full drop+rename, and a crash mid-swap leaves a
    * recoverable backup instead of nothing. Still not atomic — that is
    * Spark's non-transactional catalog; layer a transactional format
    * for stronger guarantees.
    *
    * PARTITIONED tables — the 100 TB fact-table case — are compacted
    * IN PLACE, one partition at a time: each partition's rows are
    * read (partition-pruned scan), repartitioned to its own pruned-
    * stats file target, materialized off the table's lineage
    * (localCheckpoint — Spark refuses to overwrite a table from a plan
    * still reading it), and written back via dynamic partition
    * overwrite. The table's identity, partition spec, pruning
    * metadata, and every OTHER partition's files are untouched
    * throughout — there is no window where the table name is absent,
    * and peak extra storage is one partition, not one table. */
  def compact(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    require(meta.tableType == CatalogTableType.MANAGED,
      s"compact only rewrites MANAGED tables; $table is ${meta.tableType.name} — " +
        "compacting it here would orphan the external location")
    require(meta.bucketSpec.isEmpty,
      s"compact would strip bucketing from $table — rewrite via overwriteBucketed instead")
    val provider = meta.provider.getOrElse("parquet")

    def fileTarget(df: DataFrame): Int =
      Manifest.fileCount(df.queryExecution.optimizedPlan.stats.sizeInBytes, targetBytes)

    if (meta.partitionColumnNames.isEmpty) {
      val df = spark.table(table)
      val tmp = table + "__compact"
      val backup = table + "__precompact"
      // clear debris from a prior crashed swap (in-catalog AND
      // on-disk-only — see compactBucketed) before staging
      drop(spark, tmp); clearStaleLocation(spark, tmp)
      drop(spark, backup); clearStaleLocation(spark, backup)
      df.repartition(fileTarget(df)).write.mode(SaveMode.Overwrite)
        .format(provider).saveAsTable(tmp)
      spark.sql(s"ALTER TABLE ${quoted(table)} RENAME TO ${quoted(backup)}")
      spark.sql(s"ALTER TABLE ${quoted(tmp)} RENAME TO ${quoted(table)}")
      drop(spark, backup)
    } else {
      val parts = spark.sessionState.catalog.listPartitions(ident).map(_.spec)
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val schema = spark.table(table).schema
      try parts.foreach { partSpec =>
        // catalog specs are strings: cast the literal to the partition
        // column's catalog type (string→type coercion on the COLUMN side
        // would defeat partition pruning), and match the Hive null
        // sentinel via isNull — a `col === lit(sentinel)` predicate never
        // matches the null partition, which would silently skip it
        val pred = partSpec.map { case (c, v) =>
          if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            col(c).isNull
          else col(c) === lit(v).cast(schema(c).dataType)
        }.reduce(_ && _)
        val slice = spark.table(table).filter(pred)
        // eager materialization breaks the read-from-target lineage and
        // bounds the in-flight data to ONE partition
        val staged = slice.repartition(fileTarget(slice)).localCheckpoint()
        staged.write.mode(SaveMode.Overwrite).insertInto(table)
        staged.unpersist()
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** Bucket-spec-PRESERVING small-file compaction — the [[compact]]
    * variant for bucketed tables, whose plain rewrite would strip the
    * co-location metadata and silently re-introduce the join shuffle
    * the bucketing exists to prevent (the semantic index's no-shuffle
    * probe rides on it).
    *
    * The rewrite repartitions ON THE BUCKET-ID EXPRESSION
    * (`pmod(hash(bucketCols), numBuckets)` — `hash` is the same
    * Murmur3 the bucket spec uses), so every bucket's rows land whole
    * in one write task and the bucketed writer emits one file per
    * bucket present — the compacted table is ≤ `numBuckets` files (=
    * the non-empty buckets). Repartitioning on the RAW bucket columns
    * would be wrong in a subtle way: its HashPartitioning matches the
    * bucketed scan's claimed partitioning, so Catalyst ELIDES the
    * shuffle and the write inherits the sprawled file-split tasks —
    * one file per (task, bucket), no compaction at all (observed). (A
    * bucket larger than `targetBytes` stays one file; numBuckets caps
    * how coarse compaction can get, by design — file count tracks the
    * bucket spec, not a byte target.) Sort columns are re-applied, so
    * the per-file cid ordering — and with it the min/max row-group
    * pruning the screen's `isin` pushdown relies on — survives.
    *
    * Same guard rails and rename-first swap as [[compact]]'s
    * unpartitioned path; partitioned+bucketed tables are out of scope
    * (none exist in this engine — the index tables are unpartitioned). */
  def compactBucketed(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    require(meta.tableType == CatalogTableType.MANAGED,
      s"compactBucketed only rewrites MANAGED tables; $table is ${meta.tableType.name}")
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table has no bucket spec — use compact"))
    require(meta.partitionColumnNames.isEmpty,
      s"$table is partitioned+bucketed — out of scope for compactBucketed")
    val provider = meta.provider.getOrElse("parquet")
    val tmp = table + "__compact"
    val backup = table + "__precompact"
    // clear debris from a prior crashed swap BEFORE staging: an
    // in-catalog leftover is dropped, an on-disk-only leftover (the
    // previous JVM crashed between swap steps; in-memory catalogs
    // forget it) would wedge the RENAME below at the filesystem level
    drop(spark, tmp); clearStaleLocation(spark, tmp)
    drop(spark, backup); clearStaleLocation(spark, backup)
    val bucketId = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(spec.bucketColumnNames.map(col): _*),
      org.apache.spark.sql.functions.lit(spec.numBuckets))
    val w = spark.table(table)
      .repartition(spec.numBuckets, bucketId)
      .write.mode(SaveMode.Overwrite).format(provider)
      .bucketBy(spec.numBuckets,
        spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
      w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else w).saveAsTable(tmp)
    spark.sql(s"ALTER TABLE ${quoted(table)} RENAME TO ${quoted(backup)}")
    spark.sql(s"ALTER TABLE ${quoted(tmp)} RENAME TO ${quoted(table)}")
    drop(spark, backup)
  }

  /** Per-partition file inventory — the report that tells you WHEN to
    * run [[compact]]: one row per partition (one total row for an
    * unpartitioned table) with file count, bytes, and a
    * `needs_compaction` flag set when the partition holds more files
    * than its bytes justify at `targetBytes` (the small-files signal:
    * appends accumulate files, and a 10⁶-tiny-file table spends more
    * time in footer reads and task scheduling than in data).
    *
    * This is driver-side METADATA work — one filesystem listing per
    * partition, the same cost class as the catalog's own partition
    * listing — not a Spark job over the data; the returned DataFrame
    * is |partitions| rows. Hidden files (`_SUCCESS`, `.crc`) are
    * excluded. */
  def fileReport(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame =
    spark.createDataFrame(fileReportRows(spark, table, targetBytes))
      .toDF("partition", "n_files", "bytes", "needs_compaction")

  /** The driver-local rows behind [[fileReport]] — for callers that
    * only need the verdict (e.g. the per-batch sprawl check in
    * [[graft.dedup.Dedup.maintainIndexTables]]): wrapping them in a
    * DataFrame just to `.count()` schedules one Spark job per probe
    * per batch for metadata the driver already holds. */
  private[graft] def fileReportRows(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024)
      : Seq[(String, Long, Long, Boolean)] = {
    import org.apache.hadoop.fs.Path
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val locs: Seq[(String, java.net.URI)] =
      if (meta.partitionColumnNames.isEmpty) Seq(("", meta.location))
      else spark.sessionState.catalog.listPartitions(ident).map { p =>
        (p.spec.map { case (k, v) => s"$k=$v" }.mkString("/"), p.location)
      }
    val hadoopConf = spark.sessionState.newHadoopConf()
    // a bucketed table's file floor is its bucket count, not the byte
    // target: a fully-compacted numBuckets-file index must NOT keep
    // reporting needs_compaction (compactBucketed cannot go below one
    // file per non-empty bucket)
    val floor = meta.bucketSpec.map(_.numBuckets.toLong).getOrElse(1L)
    locs.map { case (name, loc) =>
      val path = new Path(loc)
      val fs = path.getFileSystem(hadoopConf)
      val files = fs.listStatus(path).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      val bytes = files.map(_.getLen).sum
      val target = ((bytes + targetBytes - 1) / targetBytes).max(floor)
      (name, files.length.toLong, bytes, files.length > target)
    }
  }
}
