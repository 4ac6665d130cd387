package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TypeShims
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Iceberg-style table layout: immutable per-commit data directories +
  * an append-only JSON-lines snapshot log (the manifest). No Iceberg
  * runtime jar exists in this environment (SURVEY.md §7.0), so the
  * snapshot/manifest/commit semantics are implemented directly and kept
  * behind this facade.
  *
  * Layout:
  *   root/data/<tier>/snap-<id>/   parquet, one file per write task, immutable
  *   root/data/<tier>/_staging/    writes not yet published (see below)
  *   root/meta/snapshots.jsonl     one JSON object per committed snapshot
  *                                 or retention tombstone, append-only
  *   root/meta/checkpoint.jsonl    compaction of the log prefix (see below)
  *   root/meta/lineage.jsonl       per-(snapshot, bucket) lineage rows
  *
  * Reads resolve through the manifest and plan from parquet footers on
  * the driver: the snapshot dirs to open come from the manifest, and the
  * schema from the Spark row-metadata key of one part file's footer, so
  * no Spark job runs before the caller's first action.
  *
  * Commit protocol, in two steps.
  *   - Stage: the Spark write goes to `data/<tier>/_staging/<uuid>/` and
  *     its row count is read from the parquet footers. No manifest line
  *     names a staging dir, and reads resolve strictly through the
  *     manifest, so a staged write is invisible.
  *   - Publish: allocate the snapshot id, atomic-rename the staged dir to
  *     `data/<tier>/snap-<id>`, then append the snapshot line
  *     (newline-sealed + fsynced — the manifest append IS the commit
  *     point). A staging dir left with no data is removed.
  * Multi-tier staging: one Spark write of several tiers goes to
  * `data/<first tier>/_staging/<uuid>/`, partitioned by its `tier`
  * column, and each `tier=<t>` subdir is tier t's staged write (a tier
  * with no rows has none and stages as 0 rows). Publishing it renames the
  * subdir across tier dirs (`data/1m/_staging/…/tier=1d` ->
  * `data/1d/snap-<id>`), which is atomic because every tier dir lives on
  * the one file system under `root`. Every `data/<t>` is created before
  * the write starts, so a tier path that cannot be a dir fails the
  * staging, never a publish. Each write task writes one file per tier it
  * holds, so at scale a coarse tier's snapshot can hold as many files as
  * the 1m tier has write tasks; `compact` bins them.
  * `commit` is stage then publish. A writer that stages several tiers at
  * once (RollupJob) holds the commit lock through `locked` across all of
  * its stages and publishes; its staging threads take neither this
  * instance's monitor nor the lock. So every staging dir belongs to the
  * current lock holder, and any staging dir found when the lock is taken
  * is a leftover of a crashed or failed writer and is reclaimed.
  *
  * A crash before the manifest append leaves an orphan directory that no
  * reader ever sees; the retry reclaims the orphan and re-runs the bucket
  * idempotently. A torn manifest tail (crash mid-append) is skipped on
  * read and sealed on the next append. Commits across processes
  * serialize on a file lock (snapshot ids are allocated under it); within
  * one JVM, writers on the same root serialize on a process-wide monitor
  * first, so two TableIO instances never race into `FileChannel.lock`
  * (which throws OverlappingFileLockException rather than blocking for
  * same-JVM overlap). Resume = input buckets minus `doneBuckets` (the
  * manifest high-water-mark); last-commit-wins on bucket collisions.
  *
  * Checkpoint compaction: the manifest is append-only forever, so a
  * naive reader's cost grows with the table's whole commit history. Every
  * `checkpointEvery` appended lines, the committer atomically replaces
  * `meta/checkpoint.jsonl` with the resolved state of the log prefix —
  * live snapshot lines, per-tier retention cutoffs, the merged done-bucket
  * sets of dropped (fully superseded or expired) snapshots, the max
  * allocated snapshot id, and the byte offset (`upTo`) the checkpoint
  * covers. Readers then parse checkpoint + log tail only: O(live state +
  * checkpointEvery), not O(history). The checkpoint is pure optimization —
  * deleting it falls back to a full log read with identical results.
  *
  * Retention expiry: `expire(tier, cutoff)` appends a durable tombstone
  * line; buckets `< cutoff` become invisible to `read` but REMAIN in
  * `doneBuckets` (an expired bucket is still done — resume must never
  * recompute it). Data directories whose every declared bucket is expired
  * or superseded are physically deleted by `vacuum` (run as part of
  * `expire` and of checkpoint compaction). The tombstone append is the
  * expiry commit point: a crash before the directory delete leaves
  * invisible orphans that the next expire/vacuum/compaction reclaims.
  * Expiry assumes (like Iceberg's snapshot expiration) no concurrent
  * reader holds a pre-expiry view of the same tier; the single-driver
  * rollup job satisfies this by expiring only after its cascade completes.
  */
final class TableIO(val root: String, val checkpointEvery: Int = 16) {
  private val metaDir = Paths.get(root, "meta")
  private val snapshotsFile = metaDir.resolve("snapshots.jsonl")
  private val checkpointFile = metaDir.resolve("checkpoint.jsonl")
  private val lineageFile = metaDir.resolve("lineage.jsonl")

  final case class Snapshot(id: Long, tier: String, dir: String,
                            buckets: Seq[Long], rows: Long, jobId: String,
                            committedAt: Long)

  /** Resolved view of the manifest: live snapshots, per-tier retention
    * cutoffs, done-buckets carried from compaction-dropped snapshots, the
    * id high-water-mark, and how many log lines sit past the checkpoint
    * (the compaction trigger). */
  private final case class LogState(snaps: Vector[Snapshot],
                                    cutoffs: Map[String, Long],
                                    doneCompact: Map[String, Set[Long]],
                                    maxId: Long, tailLines: Int)

  /** Sum the exact row counts of every part file's parquet footer —
    * what the commit records as `rows`, without re-scanning the data.
    * An all-empty write leaves one schema-only part file and sums to 0,
    * matching the former count()-based emptiness decision row for row. */
  private def countParquetRows(dir: Path): Long =
    // footer opens cost ~ms each through the Hadoop layer — read them in
    // parallel so a many-file snapshot (wide writes) stays cheap
    partFiles(dir).asJava.parallelStream()
      .mapToLong(p => withFooter(p)(_.getRecordCount)).sum

  /** Every parquet data file under `dir`, at any depth, in path order. */
  private def partFiles(dir: Path): Vector[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector.sortBy(_.toString)
    finally s.close()
  }

  /** Open one parquet file's footer on the driver: no Spark job. */
  private def withFooter[T](file: Path)(f: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), TableIO.hadoopConf))
    try f(r) finally r.close()
  }

  /** A snapshot's read schema, from the footer of its first part file:
    * the data columns as Spark recorded them in its row-metadata key (the
    * rule `ParquetFileFormat.readSchemaFromFooter` applies to Spark-written
    * files), nullable as a file source reads them, then each `k=v`
    * directory between `dir` and that file (the former source-partitioned
    * layout) as a string column, where Spark's inference puts a partition
    * column. `source` is pinned to string, as Spark's inference would type
    * a former-layout snapshot's from dir names ("007" -> 7). */
  private def snapshotSchema(dir: Path): StructType = {
    val first = partFiles(dir).head
    val json = withFooter(first)(_.getFooter.getFileMetaData
      .getKeyValueMetaData.get(TableIO.SparkRowMetadata))
    require(json != null, s"$first: no Spark schema in its parquet footer")
    val dirCols = dir.relativize(first.getParent).asScala.map(_.toString)
      .filter(_.contains('=')).map(seg => StructField(seg.takeWhile(_ != '='), StringType))
    StructType((TypeShims.asNullable(DataType.fromJson(json).asInstanceOf[StructType]) ++
      dirCols).map(f => if (f.name == "source") f.copy(dataType = StringType) else f))
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRec(c)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  // ---------------------------------------------------------------- parse

  /** Extract a field's raw value from one of our own fixed-shape JSON
    * lines. String fields honour the escapes esc() writes (\" \\ \uXXXX),
    * so a quoted jobId/tier round-trips instead of truncating at the
    * first '"'. Returns None when the field is absent. */
  private def jsField(line: String, name: String): Option[String] = {
    val i = line.indexOf("\"" + name + "\":")
    if (i < 0) return None
    val start = i + name.length + 3
    Some(line(start) match {
      case '"' =>
        val sb = new StringBuilder
        var j = start + 1
        while (j < line.length && line(j) != '"') {
          if (line(j) == '\\') {
            line(j + 1) match {
              case 'u' =>
                sb.append(Integer.parseInt(line.substring(j + 2, j + 6), 16).toChar)
                j += 6
              case c => sb.append(c); j += 2
            }
          } else { sb.append(line(j)); j += 1 }
        }
        sb.toString
      case '[' =>
        val end = line.indexOf(']', start)
        line.substring(start + 1, end)
      case _ =>
        var end = start
        while (end < line.length && line(end) != ',' && line(end) != '}') end += 1
        line.substring(start, end)
    })
  }

  private def reqField(line: String, name: String): String =
    jsField(line, name).getOrElse(
      throw new IllegalStateException(s"missing $name in $line"))

  private def parseSnapshot(line: String): Snapshot =
    Snapshot(reqField(line, "id").toLong, reqField(line, "tier"),
      reqField(line, "dir"),
      reqField(line, "buckets").split(",").filter(_.nonEmpty).map(_.trim.toLong).toSeq,
      reqField(line, "rows").toLong, reqField(line, "jobId"),
      reqField(line, "committedAt").toLong)

  private def snapJson(s: Snapshot): String =
    s"""{"id":${s.id},"tier":"${esc(s.tier)}","dir":"${esc(s.dir)}",""" +
      s""""buckets":[${s.buckets.mkString(",")}],"rows":${s.rows},""" +
      s""""jobId":"${esc(s.jobId)}","committedAt":${s.committedAt}}"""

  private def parseBuckets(raw: String): Set[Long] =
    raw.split(",").filter(_.nonEmpty).map(_.trim.toLong).toSet

  // ------------------------------------------------------------- log read

  /** Parse checkpoint (if any) + the log tail past its `upTo` offset.
    * Torn-write tolerance on the tail: a crash mid-append can leave a
    * truncated line. A complete manifest line always ends with '}' — a
    * line that doesn't is a torn tail and is skipped (its commit never
    * became visible; the orphan data dir is reclaimed later). A
    * '}'-terminated line that still fails to parse is real corruption and
    * fails loudly. */
  private def readLog(): LogState = {
    var snaps = Vector.empty[Snapshot]
    var cutoffs = Map.empty[String, Long]
    var done = Map.empty[String, Set[Long]]
    var maxId = 0L
    var upTo = 0L
    if (Files.exists(checkpointFile)) {
      // dispatch on line PREFIXES (we write every line with a fixed field
      // order) — a contains() probe would let a jobId/tier STRING such as
      // "doneTier" masquerade as a structural line and brick the table
      Files.readAllLines(checkpointFile, StandardCharsets.UTF_8)
        .asScala.filter(_.nonEmpty).foreach { l =>
          if (l.startsWith("{\"checkpoint\":true")) {
            upTo = reqField(l, "upTo").toLong
            maxId = reqField(l, "maxId").toLong
          } else if (l.startsWith("{\"cutoffTier\":")) {
            cutoffs += reqField(l, "cutoffTier") -> reqField(l, "cutoff").toLong
          } else if (l.startsWith("{\"doneTier\":")) {
            val t = reqField(l, "doneTier")
            done += t -> (done.getOrElse(t, Set.empty) ++
              parseBuckets(reqField(l, "buckets")))
          } else snaps :+= parseSnapshot(l)
        }
    }
    var tail = 0
    if (Files.exists(snapshotsFile)) {
      val size = Files.size(snapshotsFile)
      // the manifest is append-only: shrinking below a checkpoint's
      // covered offset is corruption, not a state we can silently mend
      require(size >= upTo,
        s"manifest $snapshotsFile ($size B) shorter than checkpoint offset $upTo")
      if (size > upTo) {
        val ch = java.nio.channels.FileChannel.open(snapshotsFile,
          StandardOpenOption.READ)
        val buf = java.nio.ByteBuffer.allocate((size - upTo).toInt)
        try {
          var pos = upTo
          while (buf.hasRemaining) {
            val n = ch.read(buf, pos)
            if (n < 0) throw new IllegalStateException(
              s"manifest $snapshotsFile truncated while reading tail")
            pos += n
          }
        } finally ch.close()
        new String(buf.array(), StandardCharsets.UTF_8).split("\n", -1)
          .filter(_.nonEmpty).foreach { l =>
            if (!l.endsWith("}")) () // torn tail — never committed
            else if (l.startsWith("{\"tombstone\":true")) {
              val t = reqField(l, "tier")
              val c = reqField(l, "cutoff").toLong
              cutoffs += t -> math.max(cutoffs.getOrElse(t, Long.MinValue), c)
              tail += 1
            } else {
              val s = parseSnapshot(l)
              snaps :+= s
              maxId = math.max(maxId, s.id)
              tail += 1
            }
          }
      }
    }
    LogState(snaps, cutoffs, done, maxId, tail)
  }

  /** Live buckets a snapshot still serves: declared, not superseded by a
    * later commit of the same (tier, bucket), not expired. Shared by
    * read, vacuum and compaction so visibility and deletion agree. */
  private def keptBuckets(st: LogState): Map[Long, Seq[Long]] = {
    val winner = st.snaps
      .flatMap(s => s.buckets.map(b => (s.tier, b) -> s.id)).toMap // snaps id-ordered: toMap keeps last
    st.snaps.map { s =>
      val cut = st.cutoffs.getOrElse(s.tier, Long.MinValue)
      s.id -> s.buckets.filter(b => winner((s.tier, b)) == s.id && b >= cut)
    }.toMap
  }

  /** Live snapshot entries (post-compaction the fully superseded/expired
    * ones are dropped; their buckets survive in `doneBuckets`). */
  def snapshots(): Seq[Snapshot] = synchronized { readLog().snaps }

  /** Buckets already committed for a tier (checkpoint high-water-mark).
    * Includes expired buckets: expiry is a visibility decision, not an
    * un-commit — resume must never recompute an expired bucket. */
  def doneBuckets(tier: String): Set[Long] = synchronized {
    val st = readLog()
    st.doneCompact.getOrElse(tier, Set.empty) ++
      st.snaps.filter(_.tier == tier).flatMap(_.buckets)
  }

  /** Per-tier retention cutoff (min surviving bucket), if any. */
  def retentionCutoff(tier: String): Option[Long] =
    synchronized { readLog().cutoffs.get(tier) }

  // ------------------------------------------------------------ log write

  /** Append `payload` starting on a fresh line and fsync — the manifest
    * is the commit point, so a "committed" snapshot must survive power
    * loss, and a previously torn tail must not concatenate with the new
    * line (the '\n' seal turns the torn fragment into a skippable
    * non-'}'-terminated line). */
  private def appendDurable(file: Path, payload: String): Unit = {
    val ch = java.nio.channels.FileChannel.open(file,
      StandardOpenOption.CREATE, StandardOpenOption.READ,
      StandardOpenOption.WRITE)
    try {
      var pos = ch.size()
      if (pos > 0) {
        val last = java.nio.ByteBuffer.allocate(1)
        ch.read(last, pos - 1)
        if (last.get(0) != '\n'.toByte) {
          ch.write(java.nio.ByteBuffer.wrap(Array('\n'.toByte)), pos)
          pos += 1
        }
      }
      ch.write(java.nio.ByteBuffer.wrap(
        payload.getBytes(StandardCharsets.UTF_8)), pos)
      ch.force(true)
    } finally ch.close()
  }

  /** Run `body` holding the table's commit lock — two writers on one root
    * otherwise allocate colliding snapshot ids. Cross-process: a file
    * lock. Same-JVM: a process-wide monitor keyed on the canonical root,
    * acquired FIRST, because `FileChannel.lock` throws
    * OverlappingFileLockException (instead of blocking) when any channel
    * in this JVM already holds the file's lock. Re-entrant per thread
    * (tracked by canonical root), so a multi-step maintenance op like
    * compact() can hold the lock across resolve→rewrite→commit→vacuum
    * while the inner steps still guard themselves when called directly.
    * Taking the lock afresh reclaims staging leftovers: a live staging
    * dir only ever exists under a held lock. */
  private def withCommitLock[T](body: => T): T =
    TableIO.rootMonitor(root).synchronized {
      val key = Paths.get(root).toAbsolutePath.normalize.toString
      if (TableIO.heldLocks.get.contains(key)) body
      else {
        val ch = java.nio.channels.FileChannel.open(metaDir.resolve("commit.lock"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          TableIO.heldLocks.get.add(key)
          try { reclaimStaging(); body } finally {
            TableIO.heldLocks.get.remove(key)
            lock.release()
          }
        } finally ch.close()
      }
    }

  /** Atomically replace the checkpoint with the resolved state of the log
    * up to its current end. Fully dead snapshots (no kept buckets) are
    * vacuumed and dropped; their buckets fold into the compact done sets.
    * Crash-safe: tmp + fsync + ATOMIC_MOVE — a torn write leaves the old
    * checkpoint, whose smaller `upTo` just means a longer tail parse. */
  private def writeCheckpointLocked(st: LogState): Unit = {
    val kept = keptBuckets(st)
    vacuumLocked(st, kept)
    val (live, dead) = st.snaps.partition(s => kept(s.id).nonEmpty)
    val doneAll = dead.foldLeft(st.doneCompact) { (m, s) =>
      m.updated(s.tier, m.getOrElse(s.tier, Set.empty) ++ s.buckets)
    }
    val upTo = if (Files.exists(snapshotsFile)) Files.size(snapshotsFile) else 0L
    val sb = new StringBuilder
    sb.append(s"""{"checkpoint":true,"upTo":$upTo,"maxId":${st.maxId}}""").append('\n')
    st.cutoffs.toSeq.sortBy(_._1).foreach { case (t, c) =>
      sb.append(s"""{"cutoffTier":"${esc(t)}","cutoff":$c}""").append('\n')
    }
    doneAll.toSeq.sortBy(_._1).foreach { case (t, bs) =>
      sb.append(s"""{"doneTier":"${esc(t)}","buckets":[${bs.toSeq.sorted.mkString(",")}]}""")
        .append('\n')
    }
    live.foreach(s => sb.append(snapJson(s)).append('\n'))
    val tmp = metaDir.resolve("checkpoint.jsonl.tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(
        sb.toString.getBytes(StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, checkpointFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete data directories no reader can ever see again (every declared
    * bucket superseded or expired). Idempotent — re-run reclaims orphans
    * left by a crash between tombstone append and delete. */
  private def vacuumLocked(st: LogState,
                           kept0: Map[Long, Seq[Long]] = null): Unit = {
    val kept = if (kept0 != null) kept0 else keptBuckets(st)
    st.snaps.filter(s => s.dir.nonEmpty && kept(s.id).isEmpty).foreach { s =>
      val dir = Paths.get(root, s.dir)
      if (Files.exists(dir)) deleteRec(dir)
    }
  }

  /** Reclaim dead data directories (see vacuumLocked). */
  def vacuum(): Unit = synchronized { withCommitLock { vacuumLocked(readLog()) } }

  /** Expire a tier's buckets strictly below `cutoff` (epoch seconds of
    * the commit bucket): appends a durable tombstone (the expiry commit
    * point), then vacuums directories it killed. Monotone — a cutoff at
    * or below the current one appends nothing (still vacuums). Callers
    * own the cascade invariant: only expire a fine tier once every
    * coarser tier has committed the covered range, because expired
    * buckets cannot seed a future cascade. */
  def expire(tier: String, cutoff: Long): Unit = synchronized {
    locked {
      val st = readLog()
      val cur = st.cutoffs.getOrElse(tier, Long.MinValue)
      if (cutoff > cur) {
        appendDurable(snapshotsFile,
          s"""{"tombstone":true,"tier":"${esc(tier)}","cutoff":$cutoff,""" +
            s""""at":${System.currentTimeMillis()}}""" + "\n")
      }
      val st2 = st.copy(
        cutoffs = st.cutoffs.updated(tier, math.max(cur, cutoff)),
        tailLines = st.tailLines + (if (cutoff > cur) 1 else 0))
      vacuumLocked(st2)
      if (st2.tailLines >= checkpointEvery) writeCheckpointLocked(st2)
    }
  }

  /** Delete every `data/<tier>/_staging` dir. Only called on taking the
    * commit lock, when none of them can belong to a live writer. */
  private def reclaimStaging(): Unit = {
    val data = Paths.get(root, "data")
    if (Files.isDirectory(data)) {
      val tiers = Files.list(data)
      try tiers.forEach { t =>
        val staging = t.resolve(TableIO.StagingDir)
        if (Files.isDirectory(staging)) deleteRec(staging)
      } finally tiers.close()
    }
  }

  /** A tier write parked in a staging dir, not yet visible. */
  final case class Staged(tier: String, dir: Path, rows: Long)

  /** Run `body` holding the commit lock (re-entrant), so a writer can
    * stage several tiers and publish them with no other writer on this
    * root in between. Takes the process-wide root monitor but not this
    * instance's monitor. */
  private[graft] def locked[T](body: => T): T = {
    Files.createDirectories(metaDir)
    withCommitLock(body)
  }

  /** Spark-write `df` into a fresh staging dir of `tier` and count its
    * rows from the footers. One file per write task, rows in `df`'s order:
    * the caller sizes and clusters the files (rebalance, sort within
    * partitions). The plan is evaluated ONCE: emptiness comes
    * from what was actually written (a separate isEmpty action would
    * re-execute the plan and could disagree with the written data for
    * nondeterministic inputs). Takes neither this instance's monitor nor
    * the commit lock, so a lock holder may stage from pool threads; the
    * caller must hold the lock (`locked`), or the next lock taker
    * reclaims the staging dir. */
  private[graft] def stage(tier: String, df: DataFrame): Staged =
    stageWrite(Seq(tier), df, byTier = false).head

  /** `stage` for several tiers in one Spark write: `df`'s `tier` column
    * names each row's tier (one of `tiers`), the write is partitioned by
    * it, and each tier's subdir is its `Staged` (see the class header).
    * The caller sorts each partition by `tier` first, so a write task
    * holds one tier file open at a time. */
  private[graft] def stage(tiers: Seq[String], df: DataFrame): Seq[Staged] =
    stageWrite(tiers, df, byTier = true)

  private def stageWrite(tiers: Seq[String], df: DataFrame, byTier: Boolean): Seq[Staged] = {
    // tier names become filesystem paths — keep them path- and JSON-safe
    tiers.foreach(t => require(t.matches("[A-Za-z0-9._-]+"),
      s"tier '$t' must match [A-Za-z0-9._-]+"))
    // read() resolves bucket collisions through commit_bucket; enforce the
    // column at write time instead of failing at read time
    require(df.columns.contains("commit_bucket"),
      s"commit('${tiers.mkString(",")}'): DataFrame must carry a commit_bucket column")
    tiers.foreach(t => Files.createDirectories(Paths.get(root, "data", t)))
    val dir = Paths.get(root, "data", tiers.head, TableIO.StagingDir,
      java.util.UUID.randomUUID().toString)
    Files.createDirectories(dir.getParent)
    val w = df.write.mode("overwrite")
    (if (byTier) w.partitionBy("tier") else w).parquet(dir.toString)
    // exact row count from the written parquet FOOTERS (driver-side,
    // O(files)) — the former spark.read(...).count() launched a full
    // second Spark scan job per commit just to fill snapshot metadata
    if (!byTier) Seq(Staged(tiers.head, dir, countParquetRows(dir)))
    else {
      val written = dir.toFile.list().filter(_.startsWith("tier=")).map(_.stripPrefix("tier="))
      require(written.forall(tiers.contains),
        s"staged tiers ${written.mkString(",")} outside ${tiers.mkString(",")}")
      tiers.map { t =>
        val sub = dir.resolve(s"tier=$t")
        Staged(t, sub, if (Files.isDirectory(sub)) countParquetRows(sub) else 0L)
      }
    }
  }

  /** Remove the staging dirs above a published `dir` that hold no more
    * data: a multi-tier write's root once its last tier is out (only its
    * _SUCCESS marker is left), then an emptied `_staging`. */
  private def dropEmptied(dir: Path): Unit = {
    val parent = dir.getParent
    if (Files.isDirectory(parent)) {
      val s = Files.list(parent)
      val holds = try s.anyMatch(Files.isDirectory(_)) finally s.close()
      if (!holds) {
        deleteRec(parent)
        if (parent.getFileName.toString != TableIO.StagingDir) dropEmptied(parent)
      }
    }
  }

  /** Make a staged write visible as a snapshot covering `buckets`:
    * allocate its id, rename the staged dir to `snap-<id>`, append the
    * manifest line (the commit point), drop the emptied staging dirs. */
  private[graft] def publish(staged: Staged, buckets: Seq[Long],
                             jobId: String): Snapshot = synchronized {
    locked {
      val st = readLog()
      val id = st.maxId + 1
      // A bucket can legitimately finalize to zero rows (every input row
      // below the state minimum): record it in the manifest (it IS done —
      // resume must not re-run it forever) but keep no data directory
      // (an unpartitioned write left only a schema-only part file, a
      // multi-tier write no subdir).
      val snapRel = s"data/${staged.tier}/snap-$id"
      val relDir = if (staged.rows == 0L) {
        deleteRec(staged.dir)
        ""
      } else {
        // a crash between this rename and the manifest append leaves an
        // orphan snap-<id> dir that no reader ever sees; the retry
        // recomputes the same id, so reclaim the orphan instead of letting
        // ATOMIC_MOVE fail on the non-empty target forever
        val finalDir = Paths.get(root, snapRel)
        if (Files.exists(finalDir)) deleteRec(finalDir)
        Files.move(staged.dir, finalDir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        snapRel
      }
      val snap = Snapshot(id, staged.tier, relDir, buckets, staged.rows, jobId,
        System.currentTimeMillis())
      appendDurable(snapshotsFile, snapJson(snap) + "\n")
      dropEmptied(staged.dir)
      if (st.tailLines + 1 >= checkpointEvery)
        writeCheckpointLocked(st.copy(snaps = st.snaps :+ snap, maxId = id,
          tailLines = st.tailLines + 1))
      snap
    }
  }

  /** Atomically commit a tier DataFrame covering `buckets`: stage, then
    * publish, under one hold of the commit lock. */
  def commit(tier: String, df: DataFrame, buckets: Seq[Long],
             jobId: String): Snapshot = synchronized {
    locked { publish(stage(tier, df), buckets, jobId) }
  }

  /** Read a tier through the manifest: union of committed snapshot dirs,
    * last-commit-wins per (bucket, key row) via snapshot precedence,
    * retention-expired buckets excluded. */
  def read(spark: SparkSession, tier: String): Option[DataFrame] =
    readRange(spark, tier, Long.MinValue, Long.MaxValue)

  /** Range read with MANIFEST-level pruning: only snapshots serving a
    * surviving bucket in `[fromBucket, untilBucket)` (commit-bucket epoch
    * seconds) are opened at all — the manifest is the zone map, so a
    * 10-day slice of a years-deep table lists and scans just those days'
    * snapshot dirs instead of every commit ever made. Within a surviving
    * snapshot the bucket predicate lands on the parquet scan for
    * row-group skipping. Visibility rules (last-commit-wins, retention
    * cutoffs) are identical to the full read — same keptBuckets
    * resolution, filtered to the range. Planning runs no Spark job: the
    * schema of every snapshot comes from one footer of the first live
    * snapshot, read on the driver (`snapshotSchema`), not from Spark's
    * schema inference. */
  def readRange(spark: SparkSession, tier: String, fromBucket: Long,
                untilBucket: Long): Option[DataFrame] = {
    val st = synchronized { readLog() }
    val snaps = st.snaps.filter(_.tier == tier).sortBy(_.id)
    if (snaps.isEmpty) return None
    val kept0 = keptBuckets(st)
    // skip snapshots serving nothing — their dir may already be vacuumed
    val kept = snaps.map(s => s.id -> kept0(s.id)
      .filter(b => b >= fromBucket && b < untilBucket)).toMap
    val live = snaps.filter(s => s.dir.nonEmpty && kept(s.id).nonEmpty)
    if (live.isEmpty) return None
    def path(s: Snapshot) = Paths.get(root, s.dir)
    val schema = snapshotSchema(path(live.head))
    val dfs = live.map(s => spark.read.schema(schema).parquet(path(s).toString))
    // ALWAYS filter to the surviving winning buckets — skipping the
    // filter when keep == declared let rows whose commit_bucket was
    // never declared leak past last-commit-wins (commit() does not
    // validate the data's buckets against the declared list)
    Some(live.zip(dfs).map { case (s, df) =>
      df.where(col("commit_bucket").isin(kept(s.id): _*))
    }.reduce(_ unionByName _))
  }

  /** Bin-pack a tier's live snapshots into one: the small-file
    * maintenance op. A long-lived table accretes one snapshot per
    * incremental run — hundreds of small parquet files whose per-file
    * open/footer cost eventually dominates reads. compact() rewrites the
    * tier's current VISIBLE rows as a single snapshot committed over all
    * surviving buckets; every older snapshot becomes fully superseded,
    * vacuum reclaims its directory, and the next checkpoint drops it from
    * the manifest (its buckets fold into the compact done-sets, so resume
    * still recomputes nothing). Readers are never wrong mid-compaction:
    * the new snapshot only wins after its manifest append, and
    * last-commit-wins resolution is row-for-row what read() already
    * served. Returns None when the tier has nothing to compact. */
  def compact(spark: SparkSession, tier: String, jobId: String = "compact"): Option[Snapshot] =
    // The WHOLE resolve→rewrite→commit→vacuum window holds the commit
    // lock (re-entrantly shared with the inner commit/vacuum): resolving
    // the visible state outside it would let a concurrent commit land
    // between the snapshot-plan read and the compact commit — the compact
    // snapshot's higher id would then shadow that commit's rows under
    // last-commit-wins and vacuum would reclaim its directory, silently
    // losing committed data. Lock-hold length equals an ordinary
    // commit's (which also holds it across its Spark write).
    synchronized {
      locked {
        read(spark, tier).map { df =>
          val buckets = {
            val st = readLog()
            val kept = keptBuckets(st)
            st.snaps.filter(_.tier == tier)
              .flatMap(s => kept(s.id)).distinct.sorted
          }
          // the packing itself: an AQE rebalance sizes the files, and the
          // sort restores the writers' order: (source, bucket) for features
          // (commit_bucket is a bucket's day), (source, commit_bucket) else
          val order = Seq("source", "commit_bucket", "bucket").filter(df.columns.contains)
          val packed = df.hint("rebalance", order.head).sortWithinPartitions(order.map(col): _*)
          val snap = commit(tier, packed, buckets, jobId)
          vacuum()
          snap
        }
      }
    }

  /** Read a compressed chunk tier back as per-point rows: DoD-decoded
    * bucket timestamps zipped with every Gorilla-decoded feature series,
    * exploded. The scan + decode + explode are all native expressions
    * inside whole-stage codegen (the idiomatic read path — composing the
    * built-in parquet source with the codec expressions beats a custom
    * DataSource reimplementing parquet). Feature list is discovered from
    * the chunk schema (`<feature>_gor` columns). */
  def readChunkPoints(spark: SparkSession, tier: String): Option[DataFrame] =
    read(spark, s"$tier-chunks").map { chunks =>
      val feats = chunks.columns.filter(_.endsWith("_gor"))
        .map(_.stripSuffix("_gor")).toSeq
      val zipped = chunks.select(col("source"), col("commit_bucket"),
        arrays_zip((col("ts_dod") +: feats.map(f => col(s"${f}_gor")))
          .zip("bucket_s" +: feats)
          .map { case (c, nm) =>
            (if (nm == "bucket_s") graft.functions.dod_decode(c)
             else graft.functions.gorilla_decode(c)).as(nm)
          }: _*).as("z"))
      zipped.select(col("source"), col("commit_bucket"), explode(col("z")).as("p"))
        .select(Seq(col("source"), col("commit_bucket"),
          col("p.bucket_s").as("bucket_s")) ++
          feats.map(f => col(s"p.$f").as(f)): _*)
    }

  /** Append per-bucket lineage rows (driver-side, tiny). */
  def appendLineage(jobId: String, tier: String,
                    rows: Seq[(Long, Long, Long, String)]): Unit = synchronized {
    Files.createDirectories(metaDir)
    val sb = new StringBuilder
    rows.foreach { case (bucket, rowsOut, tokensIn, checksum) =>
      sb.append(s"""{"jobId":"${esc(jobId)}","tier":"${esc(tier)}",""" +
        s""""bucket":$bucket,"rowsOut":$rowsOut,"tokensIn":$tokensIn,""" +
        s""""checksum":"${esc(checksum)}"}""" + "\n")
    }
    appendDurable(lineageFile, sb.toString)
  }

  def lineageLines(): Seq[String] = synchronized {
    if (!Files.exists(lineageFile)) Nil
    else {
      Files.readAllLines(lineageFile, StandardCharsets.UTF_8).asScala.toSeq
    }
  }
}

object TableIO {
  // per-tier dir of unpublished writes; the leading '_' keeps Spark's
  // file listing from treating it as data should a tier dir be read
  private val StagingDir = "_staging"
  // one Configuration for all footer reads — each instantiation reloads
  // the XML default resources, which would tax every commit
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()
  // the footer key under which Spark's parquet writer records its schema
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"
  // JVM-wide commit monitors, one per canonical table root: same-JVM
  // writers serialize here BEFORE touching the (per-process) file lock
  private val rootMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def rootMonitor(root: String): Object =
    rootMonitors.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)
  // canonical roots whose commit file-lock the CURRENT thread holds —
  // only read/written while the root's monitor is held
  private val heldLocks =
    ThreadLocal.withInitial[java.util.HashSet[String]](() =>
      new java.util.HashSet[String]())
}
