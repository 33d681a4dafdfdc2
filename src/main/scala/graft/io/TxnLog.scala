package graft.io

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, coalesce, col, count, explode, expr, input_file_name, lit, max, min, not, sequence, substring_index, sum, when}

/** A minimal TRANSACTION-LOG table format — the commit protocol that turns
  * a directory of parquet files into a table with atomic commits, crash
  * isolation, optimistic concurrency, row-level deletes, and time travel
  * (the Delta/Iceberg core, reduced to its essentials):
  *
  *   <dir>/part-<uuid>/ *.parquet      data files, written FIRST
  *   <dir>/_txnlog/v00001.manifest     one committed version: the list of
  *                                     data files (relative paths) this
  *                                     commit ADDS
  *
  * Readers list the manifest chain and read exactly the union of listed
  * files — a data directory with no manifest entry (a writer that died
  * between data write and commit) is INVISIBLE, which is the crash-safety
  * contract. Commit claims its version by HARD-LINKING the fully-written
  * manifest into place: link(2) is atomic and fails with EEXIST if the
  * version is taken, so two racing writers serialize optimistically — the
  * loser retries under the next version number, never overwriting. (On
  * object stores the link step becomes the store's put-if-absent /
  * conditional-write primitive; everything else is unchanged.)
  *
  * Manifest format: first line is the action marker — `A` (this commit
  * ADDS its files to the visible set), `R` (this commit REPLACES the
  * visible set with its files: the compaction/rewrite action),
  * `D <keyCols>` (this commit's files are a DELETE VECTOR: the distinct
  * key values of deleted rows; comma-separated key column names ride in
  * the marker line), or `X` (EXCHANGE: a file-granular rewrite — body
  * lines are `-<rel>` removes and `+<rel>` adds, the Delta/Iceberg
  * remove-action/add-action granularity that lets MERGE rewrite only the
  * files it touched instead of the table) — followed by one relative
  * file path per line (A/R/D). Every marker line carries an
  * ` @<micros>` IN-COMMIT TIMESTAMP suffix (stamped inside the atomic
  * claim, clamped monotone against the previous manifest — the Delta
  * in-commit-timestamps move that makes `TIMESTAMP AS OF` survive log
  * copies and writer clock skew); readers strip it before matching the
  * action, and legacy unstamped manifests resolve by file mtime.
  * Readers fold the manifest chain in NUMERIC version order: A appends,
  * R resets (and clears pending delete vectors — a rewrite materializes
  * them), D stacks an anti-join, X removes-then-adds (pending vectors
  * stay pending: value-based anti-joins are idempotent, so re-applying
  * them across exchanged files is exact). Compaction is therefore just
  * `commit(read(latest), replace = true)` — old versions stay readable
  * (time travel is unaffected) while the latest view plans only the
  * compacted files.
  *
  * Commit protocol. Every writer stages its data first ([[stage]]: a
  * fresh `part-<uuid>`, flat or moved into the shared `pdata` tree),
  * then claims a version by one of two rules. A write that reads
  * nothing (append, txn append, column-mapping action, version-pinned
  * restore, clone) takes ANY free slot ([[claimNext]]): folding such
  * commits in either order yields the same table. A write DERIVED from
  * a snapshot (compact, CoW delete/update, deleteVector, update, merge,
  * OPTIMIZE) claims EXACTLY base+1 in [[casLoop]]: each pass reads
  * `base`, runs the writer's attempt, passes the [[claimFence]] test
  * seam and compare-and-swaps base+1. On a loss the loop discards the
  * attempt's staged files (nothing else deletes them; a crash leaves
  * orphans for vacuum), applies the writer's `isolation` under its own
  * conflict marker ([[classifyConflict]]; `Isolation.Abort` throws on a
  * conflicting interleaved commit) and re-derives from the new
  * snapshot — serializability by serial re-execution. The replace
  * fallback of merge and of the file-granular DML is one more pass of
  * the same loop, so it keeps the writer's isolation. Vacuum stays
  * single-writer by contract.
  *
  * Delete vectors (merge-on-read): `deleteVector` commits the matching
  * rows' KEY VALUES (metadata-sized) instead of rewriting the visible
  * set — at 100 TB a one-row erasure writes one tiny file, not the
  * table. Readers anti-join each visible vector on its key columns.
  * Value-based vectors (not file/position-based) survive compaction and
  * concurrent appends untouched: the anti-join semantics don't care
  * which file a row lives in. `delete` (copy-on-write) remains the
  * compaction-style alternative that physically removes bytes — the
  * right-to-be-forgotten finalizer — and any replace-commit materializes
  * all pending vectors. The usual lakehouse cadence is deleteVector for
  * latency, periodic compact to purge.
  *
  * Scale notes: manifests are metadata-sized (file LISTS, not data); the
  * reader's planning cost is O(committed files), exactly a parquet
  * multi-path scan afterward — pushdown/pruning reach the files as usual
  * since the result IS spark.read.parquet(files) (delete vectors add
  * broadcast-sized anti-joins on top).
  */
object TxnLog {

  private def logDir(dir: String): Path = Paths.get(dir, "_txnlog")

  /** Manifest body lines are normally dir-relative; a `@`-prefixed line is
    * an ABSOLUTE path into another table's data — the shallow-clone
    * reference form. Resolution is the single seam every reader shares. */
  private def resolve(dir: String, rel: String): String =
    if (rel.startsWith("@")) rel.drop(1) else s"$dir/$rel"

  private def manifestPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"v$v%05d.manifest")

  /** Directory listing that CLOSES the underlying stream — Files.list
    * leaks a DirectoryStream handle until GC otherwise, which a
    * long-lived executor calling this per query would exhaust. */
  private def listDir(p: Path): Array[Path] = {
    val s = Files.list(p)
    try s.toArray.map(_.asInstanceOf[Path]) finally s.close()
  }

  /** (version, manifest path) pairs, sorted by PARSED version — filename
    * strings sort lexicographically, which diverges from numeric order
    * once versions outgrow the zero-padding ('v100000' < 'v99999'). */
  private def manifests(dir: String): Array[(Long, Path)] = {
    val ld = logDir(dir)
    if (!Files.exists(ld)) Array.empty
    else listDir(ld).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.endsWith(".manifest"))
        Some((n.stripPrefix("v").stripSuffix(".manifest").toLong, p))
      else None
    }.sortBy(_._1)
  }

  /** Largest committed version, 0 if none. */
  def currentVersion(dir: String): Long = {
    val ms = manifests(dir)
    if (ms.isEmpty) 0L else ms.last._1
  }

  /** Staged data files (relative paths, sorted), unreferenced until a
    * claim lists them, and the one action that removes them. */
  private final case class Staged(files: Vector[String], discard: () => Unit)

  /** The one staged write: `df` under a fresh `part-<uuid>` — flat, or
    * hive dir-encoded by `partCols`. `shared` then MOVES the leaves into
    * the table's shared `pdata/col=val/...` tree (renames, zero data
    * bytes) with the uuid prefixed to each file name, so concurrent
    * writers never collide. A partitioned write of zero rows stages no
    * files. `dropEmpty` decides emptiness from the written FOOTERS —
    * every file holds zero rows — and then discards the stage and
    * returns no files: one pass, where a localCheckpoint + isEmpty
    * pre-probe would evaluate the rewrite twice. On current Spark an
    * empty job writes one zero-row file, but the rule does not encode
    * that: several empty files must still count as empty. The forall
    * short-circuits on the first file with rows. */
  private def stage(df: DataFrame, dir: String, partCols: Seq[String] = Nil,
                    shared: Boolean = false, dropEmpty: Boolean = false): Staged = {
    require(!shared || partCols.nonEmpty,
      "partitioned shared write needs at least one partition column")
    val uuid = java.util.UUID.randomUUID().toString
    val rel = s"part-$uuid"
    val root = new java.io.File(s"$dir/$rel")
    val writer = df.write.mode("errorifexists")
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*)).parquet(root.getPath)
    val written = walkParquet(dir, rel)
    val staged =
      if (!shared) Staged(written, () => FsUtil.deleteRecursively(root))
      else {
        val files = written.map { f =>
          val sub = f.stripPrefix(s"$rel/") // col=val/.../name.parquet
          val i = sub.lastIndexOf('/')
          val tgt = s"pdata/${sub.take(i)}/$uuid-${sub.drop(i + 1)}"
          val tp = Paths.get(dir, tgt)
          Files.createDirectories(tp.getParent)
          Files.move(Paths.get(dir, f), tp)
          tgt
        }
        FsUtil.deleteRecursively(root)
        Staged(files, () => files.foreach(f => Files.deleteIfExists(Paths.get(dir, f))): Unit)
      }
    if (staged.files.isEmpty ||
        dropEmpty && staged.files.forall(f => ParquetStats.rowCount(s"$dir/$f").contains(0L))) {
      staged.discard()
      Staged(Vector.empty, () => ())
    } else staged
  }

  /** Zone-map lines (`rel<TAB>col<TAB>min<TAB>max`, integral bounds of
    * `cast(c as long)`) of `rels`' files — `@` refs included. From the
    * parquet FOOTERS on the driver, no Spark job, when every file vouches
    * for every column ([[ParquetStats.longRanges]]; the Iceberg
    * manifest-stats move: a post-write scan would re-read data to
    * recompute what the footer states). Otherwise one files × columns
    * aggregate grouped by input file. A file all-null in `c` gets no `c`
    * line on either path. */
  private def zoneMaps(spark: SparkSession, dir: String, rels: Seq[String],
                       cols: Seq[String]): Vector[String] = {
    import ParquetStats.LongRange
    val footers = rels.toVector.map(rel =>
      rel -> ParquetStats.longRanges(resolve(dir, rel), cols))
    if (!footers.exists(_._2.contains(LongRange.Unknown)))
      footers.flatMap { case (rel, ranges) =>
        cols.zip(ranges).collect { case (c, LongRange.Bounds(mn, mx)) => s"$rel\t$c\t$mn\t$mx" }
      }
    else {
      val byAbs: Map[String, String] = rels.map(rel =>
        Paths.get(resolve(dir, rel)).toAbsolutePath.normalize.toString -> rel).toMap
      val withFile = spark.read.option("mergeSchema", "true")
        .parquet(byAbs.keys.toSeq: _*)
        .withColumn("__f", input_file_name())
      val aggs = cols.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"__mn_$c"),
        max(col(c).cast("long")).as(s"__mx_$c")))
      val rows = withFile.groupBy(col("__f")).agg(aggs.head, aggs.tail: _*)
        .collect() // files-sized: metadata, never data
      rows.toVector.flatMap { r =>
        val abs = new java.net.URI(r.getAs[String]("__f")).getPath
        val rel = byAbs.getOrElse(abs, throw new IllegalStateException(
          s"scanned file $abs is not among the zone-mapped files"))
        cols.flatMap { c =>
          val mn = r.getAs[Any](s"__mn_$c"); val mx = r.getAs[Any](s"__mx_$c")
          if (mn == null || mx == null) None // all-null file: no entry
          else Some(s"$rel\t$c\t$mn\t$mx")
        }
      }
    }
  }

  /** Publish `lines` as version `v`'s stats sidecar (`v%05d.stats`). */
  private def writeZoneStats(dir: String, v: Long, lines: Seq[String]): Unit =
    writeMetaFile(statsPath(dir, v), lines.mkString("", "\n", "\n"))

  /** Replace `p` with `content` atomically: a reader sees the old file or
    * the new one, never a partial write. */
  private def writeMetaFile(p: Path, content: String): Unit = {
    val tmp = Files.createTempFile(p.getParent, ".meta-", ".tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Relative paths of every parquet leaf under `dir/rel`, any depth,
    * sorted (a flat stage's files, or a partitioned one's `col=val`
    * leaves). */
  private def walkParquet(dir: String, rel: String): Vector[String] = {
    def walk(f: java.io.File, prefix: String): Vector[String] =
      Option(f.listFiles()).map(_.toVector).getOrElse(Vector.empty).flatMap { c =>
        if (c.isDirectory) walk(c, s"$prefix/${c.getName}")
        else if (c.getName.endsWith(".parquet")) Vector(s"$prefix/${c.getName}")
        else Vector.empty
      }
    walk(new java.io.File(s"$dir/$rel"), rel).sorted
  }

  // ------------------------------------------------------------------
  // HIVE-STYLE PARTITION COLUMNS (round 9): the coarsest and cheapest
  // file pruning a 100 TB table has — a commit written with
  // `partitionBy(cols)` dir-encodes each file's partition values into its
  // manifest path (`part-<uuid>/col=val/.../f.parquet`), so the existing
  // `F <rel>` grammar carries the spec with NO new sidecar: the path IS
  // the metadata, exactly Hive/Delta's layout. Readers re-derive the
  // partition columns via a per-commit `basePath`; pruning parses the
  // path segments at PLANNING time, before the stats/bloom sidecars are
  // even consulted. Partition-spec EVOLUTION is free by construction: a
  // table may mix plain commits (column stored in-file) and partitioned
  // commits (column stored in-path) — both reads surface the column, the
  // union reconciles by name, and files carrying no `col=` segment are
  // simply never pruned by it (missing metadata costs performance, not
  // rows — the stats/bloom discipline).
  // ------------------------------------------------------------------

  /** Append-commit `df` partitioned by `partCols` (hive dir-encoding).
    * The partition columns must exist in `df`; they are stored in the
    * file PATHS, not the file bodies, and reappear on every read.
    * `replace = true` makes the version RESET the visible set (the
    * INSERT OVERWRITE action for partitioned catalog tables). */
  def commitPartitioned(df: DataFrame, dir: String, partCols: Seq[String],
                        replace: Boolean = false): Long = {
    require(partCols.nonEmpty, "commitPartitioned needs at least one partition column")
    appendData(df, dir, if (replace) "R" else "A", partCols)._1
  }

  /** Partitioned commit into the table's SHARED hive tree (`pdata/...`)
    * — the layout the SQL catalog writes. Per-commit `part-<uuid>` roots
    * ([[commitPartitioned]]) are cheapest for the Scala reader (it groups
    * per commit), but Spark's DSv2 partition DISCOVERY requires every
    * file of one scan to hang off a single base — two commits' differing
    * `part-<uuid>` segments read as "conflicting directory structures".
    * Landing every partitioned commit under one `pdata/col=val/...` root
    * gives any number of commits one basePath, so the catalog's native
    * parquet scan (and its partition pruning) just works ([[stage]]
    * moves the files there); a crash mid-move leaves only unreferenced
    * orphans, which is vacuum's ordinary jurisdiction. */
  def commitPartitionedShared(df: DataFrame, dir: String, partCols: Seq[String],
                              replace: Boolean = false): Long = {
    val files = stage(df, dir, partCols, shared = true).files
    // Empty source: a partitioned write of zero rows stages no files
    // (hive dir-encoding has nowhere to land them). Like the DML
    // replace fallback's empty stage, `INSERT INTO pt SELECT ... WHERE
    // false` is a valid, common possibly-empty ETL increment and must
    // no-op, not error; an empty OVERWRITE truncates (commits an empty
    // R), the Delta-style contract.
    if (files.isEmpty && !replace) currentVersion(dir)
    else claimNext(dir, if (replace) "R" else "A", files)
  }

  /** Stage `df`'s rows as UNREFERENCED data files — invisible by
    * protocol until a [[claimStagedReplace]] lands — the write half of
    * the SQL catalog's atomic CREATE OR REPLACE TABLE (DSv2
    * StagingTableCatalog): the CTAS/RTAS query executes against
    * pre-swap state, its output stages here, and the swap is the single
    * manifest claim. Flat tables stage a plain `part-<uuid>` dir;
    * partitioned tables stage into the shared `pdata` tree. An empty
    * partitioned source stages ZERO files (valid: the claim then commits
    * an empty visible set — REPLACE to empty). A caller that aborts
    * deletes the returned paths; a crash leaves orphans for vacuum, like
    * every other write path. */
  private[graft] def stageOnly(df: DataFrame, dir: String,
                               partCols: Seq[String]): Vector[String] =
    stage(df, dir, partCols, shared = partCols.nonEmpty).files

  /** The claim half of [[stageOnly]]: one REPLACE commit whose visible
    * set is exactly the staged files, at any free slot — a concurrent
    * commit just moves the version this replace lands at. */
  private[graft] def claimStagedReplace(dir: String, files: Seq[String]): Long =
    claimNext(dir, "R", files)

  /** The dir-encoded partition value of `column` in a manifest path, if
    * the file was written under a `column=value` segment. */
  private[io] def partValue(rel: String, column: String): Option[String] =
    rel.split('/').iterator
      .filter(_.contains('='))
      .map { seg => val i = seg.indexOf('='); (seg.substring(0, i), seg.substring(i + 1)) }
      .collectFirst { case (c, v) if c == column =>
        java.net.URLDecoder.decode(v, "UTF-8") }

  /** Commit-time clock, micros. Overridable seam (like [[claimFence]]) so
    * specs and deterministic fixtures can inject logical timestamps; the
    * monotonicity clamp in [[tryClaim]] applies either way. */
  private[graft] var clock: () => Long = () => System.currentTimeMillis() * 1000L

  /** IN-COMMIT timestamp of a manifest: the ` @<micros>` marker suffix.
    * Legacy manifests (pre-stamp) fall back to file mtime — the same
    * contract Delta documents for tables below the in-commit-timestamp
    * protocol version: resolution still works, determinism is only
    * guaranteed from the first stamped commit on. */
  private def stampOf(p: Path): Long = {
    val first = new String(Files.readAllBytes(p), "UTF-8")
      .split("\n", 2).head
    val i = first.lastIndexOf(" @")
    if (i >= 0 && first.drop(i + 2).nonEmpty && first.drop(i + 2).forall(_.isDigit))
      first.drop(i + 2).toLong
    else Files.getLastModifiedTime(p).toInstant.toEpochMilli * 1000L
  }

  /** Write the manifest body to a temp file and atomically claim version
    * `v` by hard link. Returns false if `v` was already taken. */
  private def tryClaim(dir: String, v: Long, marker: String, files: Seq[String]): Boolean = {
    Files.createDirectories(logDir(dir))
    // in-commit timestamp, clamped MONOTONIC against the newest manifest
    // (the Delta in-commit-timestamps guarantee: a commit's stamp never
    // regresses even under clock skew between writers)
    val prev = manifests(dir).lastOption.map { case (_, p) => stampOf(p) }.getOrElse(0L)
    val stamp = math.max(clock(), prev + 1L)
    val tmp = Files.createTempFile(logDir(dir), ".pending-", ".tmp")
    Files.write(tmp, (s"$marker @$stamp\n" + files.mkString("\n") + "\n").getBytes("UTF-8"))
    try {
      Files.createLink(manifestPath(dir, v), tmp) // atomic claim (EEXIST on loss)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** The any-slot claim: the first free version from the head on, for
    * writes that commute with every commit before them. */
  private def claimNext(dir: String, marker: String, files: Seq[String]): Long = {
    var v = currentVersion(dir) + 1
    while (!tryClaim(dir, v, marker, files)) v += 1
    v
  }

  /** Stage `df` (flat, or per-commit hive tree by `partCols`) and claim
    * any slot under `marker`; returns (version, staged files). */
  private def appendData(df: DataFrame, dir: String, marker: String,
                         partCols: Seq[String] = Nil): (Long, Vector[String]) = {
    val files = stage(df, dir, partCols).files
    require(files.nonEmpty, "commit of an empty dataframe writes no files")
    (claimNext(dir, marker, files), files)
  }

  /** One pass of a snapshot-derived writer ([[casLoop]]). */
  private sealed trait Attempt

  /** Nothing to commit at this snapshot: the writer returns `version`. */
  private final case class Done(version: Long) extends Attempt

  /** Claim base+1 with `marker` and `body`. `staged` is discarded if the
    * claim loses; `keys` are the key values the pass writes, for the
    * isolation check; `onWin` runs once with the won version (post-claim
    * sidecars). */
  private final case class Claim(marker: String, body: Seq[String],
                                 staged: Seq[Staged],
                                 keys: Option[DataFrame] = None,
                                 onWin: Long => Unit = _ => ()) extends Attempt

  /** The exact-slot loop every snapshot-derived writer runs: read `base`,
    * run `attempt`, pass [[claimFence]], CAS base+1. On a loss: discard
    * the pass's staged files, apply `isolation` with the writer's own
    * `conflictMarker` and `keyCols` ([[enforceIsolation]]), and run a
    * fresh pass on the new snapshot. */
  private def casLoop(spark: SparkSession, dir: String,
                      isolation: Isolation = Isolation.Rederive,
                      conflictMarker: String = "R", keyCols: Seq[String] = Nil)
                     (attempt: Long => Attempt): Long = {
    @annotation.tailrec
    def pass(): Long = {
      val base = currentVersion(dir)
      attempt(base) match {
        case Done(v) => v
        case c: Claim =>
          claimFence()
          if (tryClaim(dir, base + 1, c.marker, c.body)) { c.onWin(base + 1); base + 1 }
          else {
            c.staged.foreach(_.discard())
            enforceIsolation(spark, dir, base, conflictMarker, isolation, c.keys, keyCols)
            pass()
          }
      }
    }
    pass()
  }

  /** Atomically commit `df` as the next version; returns the version won.
    * Data lands fully before any manifest is visible; the manifest is
    * hard-linked into place so readers never observe a partial one.
    * `replace = true` makes this version RESET the visible set to its own
    * files (the compaction action) instead of appending. NOTE: a replace
    * commit built FROM a read of this table should go through
    * [[compact]]/[[delete]], which re-validate against concurrent commits;
    * this raw entry point is for single-writer maintenance loops (e.g. the
    * streaming IVM view) that own the table by contract. */
  def commit(df: DataFrame, dir: String, replace: Boolean = false): Long =
    appendData(df, dir, if (replace) "R" else "A")._1

  private def statsPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"v$v%05d.stats")

  /** Append-commit with a COLUMN-STATISTICS SIDECAR (`v%05d.stats`): one
    * `rel<TAB>col<TAB>min<TAB>max` line per (data file, stats column) —
    * the manifest-level zone maps Iceberg keeps in its manifests, which
    * let [[scanPruned]] drop whole files at PLANNING time, before any
    * parquet footer is opened (at 100 TB the footers alone are a
    * listing-and-IO storm; manifest stats are the metadata-sized answer).
    * `statsCols` must be integral-valued (LongType-castable); all-null
    * files simply omit their entry. Without `knownStats` the bounds come
    * from [[zoneMaps]]: the written footers, else one scan of the
    * just-written files. The sidecar lands AFTER the manifest
    * claim — a reader racing the gap sees no stats and keeps the files,
    * which is always sound. */
  def commitWithStats(df: DataFrame, dir: String, statsCols: Seq[String],
                      knownStats: Option[Seq[(String, Long, Long)]] = None): Long = {
    require(statsCols.nonEmpty, "commitWithStats needs at least one stats column")
    knownStats.foreach(ks => require(ks.map(_._1).toSet == statsCols.toSet,
      s"knownStats columns ${ks.map(_._1)} must match statsCols $statsCols"))
    val spark = df.sparkSession
    val (v, files) = appendData(df, dir, "A")
    // Writer-known stats (the Iceberg-writer path): a writer that just
    // partitioned by the stats column already KNOWS every file's bounds —
    // e.g. a partition-value commit has min = max = the value — so
    // deriving them again is pure waste. The bounds apply to every file
    // of this commit; a too-wide bound only costs pruning, never rows.
    writeZoneStats(dir, v, knownStats match {
      case Some(ks) =>
        files.flatMap(rel => ks.map { case (c, mn, mx) => s"$rel\t$c\t$mn\t$mx" })
      case None => zoneMaps(spark, dir, files, statsCols)
    })
    v
  }

  // ------------------------------------------------------------------
  // Bloom-filter sidecars: the POINT-LOOKUP complement to the min/max
  // zone maps (range pruning can't skip a file for `col = x` when x lies
  // inside every file's range — the Delta bloom-index slot). Filter
  // design is DETERMINISTIC and cross-engine replicable: m = 256 bits,
  // k = 4 probes; probe j of key x is the j-th 16-bit word of
  // md5("bloom:" + x) mod 256. A file's filter is the OR over its keys;
  // a lookup keeps a file iff all 4 probe bits are set (or it has no
  // filter — missing metadata can only cost performance, never rows).
  // ------------------------------------------------------------------

  /** Probe bit positions of one key (4 positions in [0, 256)). */
  private[io] def bloomBits(value: String): Seq[Int] = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(("bloom:" + value).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (0 until 4).map(j => Integer.parseInt(hex.substring(j * 4, j * 4 + 4), 16) % 256)
  }

  private def bloomPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"v$v%05d.bloom")

  /** Append-commit with a BLOOM sidecar (`v%05d.bloom`: one
    * `rel<TAB>col<TAB><64-hex>` line per file) over `bloomCol`'s values
    * (stringified exactly as SQL CAST AS STRING — the cross-engine probe
    * contract). One tiny job over the just-written files builds the
    * 4-long words with bit_or — metadata-sized, map-side combined. */
  def commitWithBloom(df: DataFrame, dir: String, bloomCol: String): Long = {
    val spark = df.sparkSession
    val (v, files) = appendData(df, dir, "A")
    val withRel = spark.read.parquet(files.map(rel => s"$dir/$rel"): _*)
      .withColumn("__rel", substring_index(input_file_name(), "/", -2))
      .withColumn("__hex", expr(s"md5(concat('bloom:', cast($bloomCol as string)))"))
      .select(col("__rel") +: (0 until 4).map(j =>
        expr(s"conv(substring(__hex, ${j * 4 + 1}, 4), 16, 10) % 256")
          .cast("int").as(s"__p$j")): _*)
    val words = (0 until 4).flatMap(j => (0 until 4).map(w =>
      expr(s"bit_or(case when __p$j div 64 = $w then shiftleft(1L, __p$j % 64) else 0L end)")
        .as(s"__w${j}_$w")))
    val rows = withRel.groupBy(col("__rel")).agg(words.head, words.tail: _*).collect()
    val lines = rows.map { r =>
      val merged = Array.fill(4)(0L)
      for (j <- 0 until 4; w <- 0 until 4)
        merged(w) |= r.getAs[Long](s"__w${j}_$w")
      val hex = merged.map(x => f"$x%016x").mkString
      s"${r.getAs[String]("__rel")}\t$bloomCol\t$hex"
    }
    writeMetaFile(bloomPath(dir, v), lines.mkString("", "\n", "\n"))
    v
  }

  private def parseBloomLines(text: String): Vector[(String, String, Array[Long])] =
    text.split("\n").filter(_.nonEmpty).toVector.flatMap { line =>
      line.split("\t") match {
        case Array(rel, c, hex) if hex.length == 64 =>
          Some((rel, c, (0 until 4).map(w =>
            java.lang.Long.parseUnsignedLong(hex.substring(w * 16, w * 16 + 16), 16))
            .toArray))
        case _ => None
      }
    }

  private def bloomSidecar(dir: String, v: Long): Vector[(String, String, Array[Long])] = {
    val bp = bloomPath(dir, v)
    if (!Files.exists(bp)) Vector.empty
    else parseBloomLines(new String(Files.readAllBytes(bp), "UTF-8"))
  }

  /** Every (file, column, 4-word filter) bloom line across the chain —
    * the O(all commits) walk; planning uses [[bloomsTwoLevel]]. */
  private def allBlooms(dir: String): Vector[(String, String, Array[Long])] =
    manifests(dir).toVector.flatMap { case (v, _) => bloomSidecar(dir, v) }

  /** Two-level bloom lookup, exactly [[statsTwoLevel]]'s contract: the
    * newest checkpoint carries visible files' filters as `B` lines
    * (hex-serialized like the sidecars), planning reads checkpoint +
    * post-checkpoint sidecars, pre-checkpoint bloom sidecars become
    * archivable. */
  private def bloomsTwoLevel(dir: String): Vector[(String, String, Array[Long])] =
    checkpointVersions(dir).lastOption match {
      case Some(cv) =>
        val fromCkpt = parseBloomLines(
          new String(Files.readAllBytes(checkpointPath(dir, cv)), "UTF-8")
            .split("\n").filter(_.startsWith("B ")).map(_.drop(2)).mkString("\n"))
        fromCkpt ++ manifests(dir).toVector.filter(_._1 > cv)
          .flatMap { case (v, _) => bloomSidecar(dir, v) }
      case None => allBlooms(dir)
    }

  /** Plan `column = value` over the latest snapshot using the bloom
    * sidecars: a visible file whose filter lacks any of the probe's bits
    * provably excludes the key and never enters the scan. Files with no
    * filter are kept. The residual equality still applies; pending delete
    * vectors apply as usual. */
  def scanPoint(spark: SparkSession, dir: String, column: String,
                value: String): PrunedScan = {
    val snap = snapshotAt(dir, Long.MaxValue)
    val blooms: Map[String, Array[Long]] = bloomsTwoLevel(dir).collect {
      case (rel, c, words) if c == column => rel -> words
    }.toMap
    val probes = bloomBits(value)
    def hits(words: Array[Long]): Boolean =
      probes.forall(p => (words(p / 64) & (1L << (p % 64))) != 0L)
    // partition pruning first — the path segment is exact (min = max =
    // value), so it excludes before any bloom filter is consulted
    val keep = snap.files.filter(f =>
      partValue(f, column).forall(_ == value) && blooms.get(f).forall(hits))
    val pred = expr(s"cast($column as string) = '${value.replace("'", "''")}'")
    val df =
      if (keep.isEmpty) read(spark, dir).filter(pred).limit(0)
      else readFileSet(spark, dir, keep, snap).filter(pred)
    PrunedScan(df, keep.size, snap.files.size)
  }

  private def parseStatsLines(text: String): Vector[(String, String, Long, Long)] =
    text.split("\n").filter(_.nonEmpty).toVector.flatMap { line =>
      line.split("\t") match {
        case Array(rel, c, mn, mx) => Some((rel, c, mn.toLong, mx.toLong))
        case _ => None
      }
    }

  private def statsSidecar(dir: String, v: Long): Vector[(String, String, Long, Long)] = {
    val sp = statsPath(dir, v)
    if (!Files.exists(sp)) Vector.empty
    else parseStatsLines(new String(Files.readAllBytes(sp), "UTF-8"))
  }

  /** Every (file, column, min, max) sidecar line across the manifest
    * chain — the union of all versions' zone maps. O(all commits):
    * reads every sidecar; used where completeness matters regardless of
    * checkpoint state (clone's stats carry-over). Planning goes through
    * [[statsTwoLevel]] instead. */
  private def allStats(dir: String): Vector[(String, String, Long, Long)] =
    manifests(dir).toVector.flatMap { case (v, _) => statsSidecar(dir, v) }

  /** TWO-LEVEL stats lookup (the Iceberg manifest-list / Delta
    * checkpoint-add-stats move): the newest checkpoint carries the
    * visible files' zone maps as `Z` lines, so planning reads ONE
    * checkpoint plus only the sidecars of commits AFTER it — O(commits
    * since checkpoint), the same bound [[snapshotAt]] already enjoys
    * for the file list. At 10⁵–10⁶ commits the per-version sidecar
    * walk, not the data, is the planning bottleneck; this closes the
    * gap the file-list checkpoint left. Without a checkpoint, falls
    * back to the full walk. Sidecars below the checkpoint become
    * ARCHIVABLE: deleting them changes nothing for latest-snapshot
    * planning (the spec proves it) — missing stats only ever cost
    * performance, never rows. */
  private def statsTwoLevel(dir: String): Vector[(String, String, Long, Long)] =
    checkpointVersions(dir).lastOption match {
      case Some(cv) =>
        val fromCkpt = parseStatsLines(
          new String(Files.readAllBytes(checkpointPath(dir, cv)), "UTF-8")
            .split("\n").filter(_.startsWith("Z ")).map(_.drop(2)).mkString("\n"))
        // `>= cv`, not `> cv`: [[analyzeStats]] MERGES new zone maps into
        // the HEAD version's sidecar, which may be the checkpointed
        // version itself — re-reading cv's sidecar costs one duplicate
        // line set (consumers key by (rel, col); the later, possibly
        // tighter analyze line wins) and keeps post-checkpoint analyzes
        // visible. Only sidecars strictly BELOW cv are archivable.
        val after = manifests(dir).toVector.filter(_._1 >= cv)
          .flatMap { case (v, _) => statsSidecar(dir, v) }
        fromCkpt ++ after
      case None => allStats(dir)
    }

  /** ANALYZE: build min/max zone maps for the CURRENT snapshot's files
    * WITHOUT rewriting a byte — the statement a 100 TB table that was
    * ingested before stats existed (or arrived via clone/migration)
    * needs: the visible files' [[zoneMaps]] (their footers, else one
    * metadata-sized job grouped by input file — files × columns rows),
    * merged into the HEAD version's sidecar (new lines win over stale
    * ones for the same (file, column)). Visibility composes with the
    * two-level layer: [[statsTwoLevel]] reads sidecars from the newest
    * checkpoint's version onward, so an analyze AFTER a head checkpoint
    * still plans. Stats are ADVISORY metadata — a racing writer's new
    * files simply aren't covered (analyze again), and pruning by stored
    * rows is sound under pending delete vectors (vectors only remove
    * rows). Partition columns refuse: their values are dir-encoded and
    * [[scanPruned]] already prunes them from the path. Returns the
    * number of (file, column) zone-map entries now covering the head. */
  def analyzeStats(spark: SparkSession, dir: String,
                   statsCols: Seq[String]): Long = {
    require(statsCols.nonEmpty, "analyzeStats needs at least one column")
    val v = currentVersion(dir)
    val snap = snapshotAt(dir, Long.MaxValue)
    require(snap.renames.isEmpty && snap.drops.isEmpty,
      "analyze on an un-materialized column mapping: compact first")
    require(snap.files.nonEmpty, s"nothing committed in $dir")
    statsCols.foreach { c =>
      require(!snap.files.exists(f => partValue(f, c).isDefined),
        s"column $c is dir-encoded (partition column): its values prune " +
          "from the file PATH already — analyze covers data columns")
    }
    val fresh = zoneMaps(spark, dir, snap.files, statsCols)
    val freshKeys = fresh.map(l => l.split("\t").take(2).mkString("\t")).toSet
    val kept = statsSidecar(dir, v).collect {
      case (rel, c, mn, mx) if !freshKeys(s"$rel\t$c") => s"$rel\t$c\t$mn\t$mx"
    }
    writeZoneStats(dir, v, kept ++ fresh)
    fresh.size.toLong
  }

  /** True when the (optionally pinned) snapshot carries pending delete /
    * scoped-update VECTORS and no column mapping — the shape
    * [[graft.plans.MorScan]] serves through SQL by inlining [[read]]'s
    * anti-join plan (a pending rename/drop still refuses: translating
    * physical names under arbitrary SQL is the mapping's compact-first
    * contract). Metadata-only. */
  def pendingVectorsOnly(dir: String, asOf: Option[Long] = None): Boolean = {
    if (!Files.exists(logDir(dir)) || currentVersion(dir) == 0) false
    else {
      val s = snapshotAt(dir, asOf.getOrElse(Long.MaxValue))
      (s.dvs.nonEmpty || s.scoped.nonEmpty) &&
        s.renames.isEmpty && s.drops.isEmpty
    }
  }

  /** A pruned scan: the DataFrame plus how many of the visible files its
    * plan actually reads. */
  final case class PrunedScan(df: DataFrame, plannedFiles: Int, totalFiles: Int)

  /** Plan `column BETWEEN lo AND hi` over the latest snapshot using the
    * manifest-level stats sidecars: a visible file whose [min,max] is
    * disjoint from [lo,hi] never enters the scan's path list. Files with
    * no recorded stats (compacted rewrites, all-null files, pre-stats
    * commits) are always kept — missing metadata can only cost
    * performance, never rows. The residual predicate still applies (stats
    * prune files, not rows), and pending delete vectors apply as usual. */
  def scanPruned(spark: SparkSession, dir: String, column: String,
                 lo: Long, hi: Long): PrunedScan = {
    val snap = snapshotAt(dir, Long.MaxValue)
    val stats: Map[String, (Long, Long)] = statsTwoLevel(dir).collect {
      case (rel, c, mn, mx) if c == column => rel -> ((mn, mx))
    }.toMap
    // partition pruning FIRST (dir-encoded value ⇒ exact zone map for the
    // file), then the stats sidecars; non-numeric or absent segments keep
    val keep = snap.files.filter { f =>
      partValue(f, column).flatMap(_.toLongOption)
        .forall(x => x >= lo && x <= hi) &&
      stats.get(f).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
    val pred = col(column).between(lo, hi)
    val df =
      if (keep.isEmpty) read(spark, dir).filter(pred).limit(0)
      else readFileSet(spark, dir, keep, snap).filter(pred)
    PrunedScan(df, keep.size, snap.files.size)
  }

  /** Read a SUBSET of a snapshot's files with every vector the snapshot
    * holds applied — scoped (update) vectors restricted to the subset
    * members they bind to, then the global `D` vectors. The shared seam
    * of read()/scanPoint/scanPruned: a pruned scan must never resurrect
    * a row the full read suppresses. */
  /** Partition-aware read of an explicit relative-file list: an explicit
    * list loses dir-encoded partition columns unless `basePath` points at
    * the commit dir the `col=val` segments hang off. Plain files (no kv
    * segment) batch into ONE reader call; partitioned files group per
    * commit dir (their part-<uuid> root — also correct for `@`-absolute
    * clone refs, whose base lives in the SOURCE table) — O(commits)
    * calls, metadata-sized. The unions reconcile by name: a partition
    * column rides in-path for partitioned commits and in-file for plain
    * ones (spec evolution). Shared by [[readFileSet]] and the
    * file-subset maintenance passes ([[optimizeClustered]]). */
  private def readLeavesRaw(spark: SparkSession, dir: String,
                            fs: Vector[String],
                            mergeSchema: Boolean = false): DataFrame = {
    def mkReader() =
      if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    val (parted, flat) = fs.partition(_.split('/').exists(_.contains('=')))
    val flatDf =
      if (flat.isEmpty) Vector.empty
      else Vector(mkReader().parquet(flat.map(resolve(dir, _)): _*))
    def baseOf(f: String): String = {
      val segs = resolve(dir, f).split('/')
      segs.take(segs.indexWhere(_.contains('='))).mkString("/")
    }
    val partDfs = parted.groupBy(baseOf).toVector.sortBy(_._1)
      .map { case (bp, fs2) =>
        mkReader().option("basePath", bp)
          .parquet(fs2.map(resolve(dir, _)): _*)
      }
    (flatDf ++ partDfs)
      .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
  }

  private def readFileSet(spark: SparkSession, dir: String,
                          files: Vector[String], snap: Snapshot,
                          mergeSchema: Boolean = false): DataFrame = {
    def readLeaves(fs: Vector[String]): DataFrame =
      readLeavesRaw(spark, dir, fs, mergeSchema)
    // group the files by which renames and scoped vectors apply; per
    // group: read, RENAME FIRST (a file inside a rename's scope carries
    // the old physical name in-parquet), then anti-join its scoped
    // vectors (key columns and vector files translated through the
    // renames that folded after each vector), then union — the common
    // single-update / single-rename cases are two groups
    val base = files
      .groupBy { f =>
        (snap.renames.zipWithIndex.collect { case ((_, _, sc), i) if sc(f) => i },
         snap.scoped.zipWithIndex.collect { case ((_, _, at, _), i) if at(f) => i })
      }
      .toVector.sortBy { case ((rs, svs), _) => (rs.mkString(","), svs.mkString(",")) }
      .map { case ((renIdxs, svIdxs), fs) =>
        val renamed = renameDf(readLeaves(fs), renIdxs.map(snap.renames))
        svIdxs.foldLeft(renamed) { (acc, i) =>
          val (vf, kc, _, off) = snap.scoped(i)
          val later = snap.renames.drop(off)
          acc.join(renameDf(spark.read.parquet(vf.map(resolve(dir, _)): _*), later),
            renameCols(kc, later), "left_anti")
        }
      }
      .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
    // drops apply LAST — logical removal over whatever the files carry
    snap.drops.foldLeft(applyDvs(spark, dir, base, snap.dvs, snap.renames))(_.drop(_))
  }

  /** One parsed manifest chain fold: the visible DATA files, the visible
    * GLOBAL delete vectors (vector files + key columns — `D` commits,
    * which suppress matching keys in past AND future files), the
    * SCOPED vectors (`U` update commits: vector files + key columns +
    * the exact file set the vector applies to — the files visible below
    * the update, so the update's own re-inserted rows and any later
    * append escape suppression; `appliesTo` is derived from the fold
    * position, never stored), and the COLUMN-MAPPING actions (`M`
    * commits — metadata-only renames/drops, see [[renameColumn]]).
    *
    * Vector tuples carry a RENAME OFFSET — how many renames had folded
    * when the vector committed. A vector's key columns and its key file
    * are written in the LOGICAL names current at its commit; renames
    * folding later shift the live names, so applying the vector
    * translates its keys through exactly `renames.drop(offset)`. That
    * makes renames COMMUTE with pending vectors — no materialization
    * barrier (drops are the exception: dropping a pending vector's key
    * column is refused at fold). A rename's `scope` is the file set
    * visible when it folded: those files carry the OLD physical name
    * in-parquet and get renamed on read; files added later were written
    * with the new logical name and are untouched. */
  private final case class Snapshot(files: Vector[String],
                                    dvs: Vector[(Vector[String], Seq[String], Int)],
                                    scoped: Vector[(Vector[String], Seq[String], Set[String], Int)] = Vector.empty,
                                    renames: Vector[(String, String, Set[String])] = Vector.empty,
                                    drops: Vector[String] = Vector.empty)

  /** Translate key-column names through the renames that folded after a
    * vector's commit (see the Snapshot doc). */
  private def renameCols(kcs: Seq[String],
                         rens: Seq[(String, String, Set[String])]): Seq[String] =
    rens.foldLeft(kcs) { case (ks, (o, n, _)) => ks.map(k => if (k == o) n else k) }

  /** Apply renames to a DataFrame in fold order (no-op per rename when
    * the column is absent — `withColumnRenamed` semantics). */
  private def renameDf(df: DataFrame,
                       rens: Seq[(String, String, Set[String])]): DataFrame =
    rens.foldLeft(df) { case (d, (o, n, _)) => d.withColumnRenamed(o, n) }

  /** One manifest parsed: (action marker line, body lines). The marker is
    * returned with its ` @<micros>` in-commit timestamp suffix STRIPPED,
    * so every marker matcher below (fold, conflict class, txn lookup)
    * sees the bare action. */
  private def parseManifest(p: Path): (String, Vector[String]) = {
    val raw = new String(Files.readAllBytes(p), "UTF-8").split("\n")
      .filter(_.nonEmpty).toVector
    val lines = raw.headOption match {
      case Some(h) =>
        val i = h.lastIndexOf(" @")
        if (i >= 0 && h.drop(i + 2).nonEmpty && h.drop(i + 2).forall(_.isDigit))
          h.take(i) +: raw.tail
        else raw
      case None => raw
    }
    lines.headOption match {
      case Some(m) if m == "R" || m == "R noop" || m == "A" || m == "X" ||
        m == "X noop" || m.startsWith("D ") || m.startsWith("T ") ||
        m.startsWith("U ") || m.startsWith("M ") =>
        (m, lines.tail)
      case _ => ("A", lines) // legacy marker-less = adds
    }
  }

  private def foldOne(acc: Snapshot, p: Path): Snapshot =
    parseManifest(p) match {
      case (r, body) if r == "R" || r == "R noop" =>
        Snapshot(body, Vector.empty) // rewrite materialized the vectors
      case ("A", body) => acc.copy(files = acc.files ++ body)
      case (t, body) if t.startsWith("T ") => // writer-txn append (exactly-once)
        acc.copy(files = acc.files ++ body)
      case (x, body) if x == "X" || x == "X noop" =>
        val removes = body.collect { case l if l.startsWith("-") => l.drop(1) }.toSet
        val adds = body.collect { case l if l.startsWith("+") => l.drop(1) }
        // scoped (update) vectors are file-set-bound: an exchange moving
        // rows between files would let suppressed rows escape — writers
        // (merge/compactSmall) materialize or refuse instead, so a chain
        // can never hold both
        require(acc.scoped.isEmpty,
          s"exchange manifest $p folded over pending update vectors")
        acc.copy(files = acc.files.filterNot(removes) ++ adds)
      case (u, body) if u.startsWith("U ") => // atomic MoR update
        val keyCols = u.stripPrefix("U ").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(keyCols.nonEmpty, s"update manifest $p has no key columns")
        val vecs = body.collect { case l if l.startsWith("V ") => l.drop(2) }
        val adds = body.collect { case l if l.startsWith("+") => l.drop(1) }
        require(vecs.nonEmpty && adds.nonEmpty, s"update manifest $p missing V/+ lines")
        acc.copy(files = acc.files ++ adds,
          scoped = acc.scoped :+ ((vecs, keyCols, acc.files.toSet, acc.renames.length)))
      case (m, _) if m.startsWith("M ") => // metadata-only schema action
        val parts = m.drop(2).split("\t").toVector
        parts.head match {
          case "rename" =>
            val (o, n) = (parts(1), parts(2))
            // no stable column IDs → a dropped name can never be reused
            // or renamed over (the Delta column-mapping restriction)
            require(!acc.drops.contains(o) && !acc.drops.contains(n),
              s"rename $o -> $n touches a dropped column (manifest $p)")
            acc.copy(renames = acc.renames :+ ((o, n, acc.files.toSet)))
          case "drop" =>
            val name = parts(1)
            require(!acc.drops.contains(name), s"column $name already dropped ($p)")
            // a pending vector keyed (post-translation) on the dropped
            // column could no longer anti-join — refuse at the fold
            val liveKeys = (acc.dvs.map(dv => (dv._2, dv._3)) ++
              acc.scoped.map(sv => (sv._2, sv._4))).flatMap { case (kcs, off) =>
                renameCols(kcs, acc.renames.drop(off))
              }
            require(!liveKeys.contains(name),
              s"cannot drop '$name': a pending delete/update vector keys on it ($p)")
            acc.copy(drops = acc.drops :+ name)
          case other =>
            throw new IllegalArgumentException(s"unknown schema action '$other' in $p")
        }
      case (m, body) => // D <keyCols>
        val keyCols = m.stripPrefix("D ").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(keyCols.nonEmpty, s"delete-vector manifest $p has no key columns")
        acc.copy(dvs = acc.dvs :+ ((body, keyCols, acc.renames.length)))
    }

  // ------------------------------------------------------------------
  // CHECKPOINTS: the folded snapshot at a version, serialized, so a
  // reader's planning cost is O(commits since the last checkpoint)
  // instead of O(all commits) — at 100 TB a table accumulates 10⁵–10⁶
  // commits and replaying the whole chain per query is the real
  // metadata bottleneck (exactly why Delta checkpoints its log every 10
  // commits and Iceberg snapshots its manifest list). Sidecar semantics
  // (stats/bloom precedent): written atomically, never authoritative —
  // a reader that misses one folds the full chain and gets the
  // IDENTICAL snapshot, because manifests are immutable once claimed,
  // so a checkpoint can never go stale for its own version.
  // Format: `F <rel>` per visible data file, then one
  // `V <keyCols><TAB><renOffset><TAB><rel>...` line per pending delete
  // vector (order preserved — vectors anti-join in commit order;
  // renOffset = how many renames had folded at the vector's commit, the
  // key-translation anchor), then one
  // `S <keyCols><TAB><renOffset><TAB><nVecs><TAB><vecFiles...><TAB><appliesTo...>`
  // line per pending SCOPED update vector: nVecs counts the vector files
  // that follow; the remaining tab-fields are the sorted set of data
  // files the vector applies to (scope — reads of other files skip it),
  // then the column-mapping actions in fold order: one
  // `M rename<TAB><old><TAB><new><TAB><scopeFiles...>` line per rename
  // (scope = files that carry the old physical name in-parquet) and one
  // `M drop<TAB><name>` line per dropped column,
  // then one `Z <rel><TAB><col><TAB><min><TAB><max>` line per visible
  // (file, stats-column) zone map and one `B <rel><TAB><col><TAB><hex64>`
  // line per visible (file, bloom-column) filter — the two-level
  // metadata layer (see statsTwoLevel/bloomsTwoLevel): planning reads
  // the checkpoint + post-checkpoint sidecars only, and pre-checkpoint
  // sidecars become archivable.
  // ------------------------------------------------------------------

  private def checkpointPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"v$v%05d.checkpoint")

  private def checkpointVersions(dir: String): Array[Long] = {
    val ld = logDir(dir)
    if (!Files.exists(ld)) Array.empty
    else listDir(ld).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.endsWith(".checkpoint"))
        Some(n.stripPrefix("v").stripSuffix(".checkpoint").toLong)
      else None
    }.sorted
  }

  private def parseCheckpoint(dir: String, v: Long): Snapshot = {
    val lines = new String(Files.readAllBytes(checkpointPath(dir, v)), "UTF-8")
      .split("\n").filter(_.nonEmpty).toVector
    val files = lines.collect { case l if l.startsWith("F ") => l.drop(2) }
    val dvs = lines.collect { case l if l.startsWith("V ") =>
      val parts = l.split("\t").toVector
      val keyCols = parts.head.drop(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      (parts.drop(2), keyCols, parts(1).toInt)
    }
    val scoped = lines.collect { case l if l.startsWith("S ") =>
      val parts = l.split("\t").toVector
      val keyCols = parts.head.drop(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val off = parts(1).toInt
      val n = parts(2).toInt
      (parts.slice(3, 3 + n), keyCols, parts.drop(3 + n).toSet, off)
    }
    val renames = lines.collect { case l if l.startsWith("M rename\t") =>
      val parts = l.split("\t").toVector
      (parts(1), parts(2), parts.drop(3).toSet)
    }
    val drops = lines.collect { case l if l.startsWith("M drop\t") => l.split("\t")(1) }
    Snapshot(files, dvs, scoped, renames, drops)
  }

  /** Write a checkpoint at the CURRENT version; returns that version.
    * Any maintenance cadence works (every N commits, post-compaction,
    * cron) — correctness never depends on when or whether one exists. */
  def checkpoint(dir: String): Long = {
    val v = currentVersion(dir)
    require(v > 0, "nothing committed")
    val snap = snapshotAt(dir, v)
    // carry the VISIBLE files' zone maps as `Z` lines (two-level stats,
    // see statsTwoLevel) — dead stats of replaced files are dropped here,
    // which is also the natural garbage collection for the stats layer.
    // Sourced through the two-level path, not the raw sidecar walk, so a
    // LATER checkpoint inherits an earlier one's Z lines even after the
    // pre-checkpoint sidecars were archived.
    val visible = snap.files.toSet
    val statLines = statsTwoLevel(dir).collect {
      case (rel, c, mn, mx) if visible(rel) => s"Z $rel\t$c\t$mn\t$mx"
    }.distinct
    val bloomLines = bloomsTwoLevel(dir).collect {
      case (rel, c, words) if visible(rel) =>
        s"B $rel\t$c\t${words.map(w => f"$w%016x").mkString}"
    }.distinct
    val lines = snap.files.map("F " + _) ++
      snap.dvs.map { case (fs, keyCols, off) =>
        (Seq("V " + keyCols.mkString(","), off.toString) ++ fs).mkString("\t")
      } ++
      snap.scoped.map { case (vfs, keyCols, at, off) =>
        (Seq("S " + keyCols.mkString(","), off.toString, vfs.length.toString) ++
          vfs ++ at.toVector.sorted).mkString("\t")
      } ++
      snap.renames.map { case (o, n, sc) =>
        (Seq("M rename", o, n) ++ sc.toVector.sorted).mkString("\t")
      } ++
      snap.drops.map(d => s"M drop\t$d") ++ statLines ++ bloomLines
    writeMetaFile(checkpointPath(dir, v), lines.mkString("", "\n", "\n"))
    v
  }

  /** Checkpoint only when ≥ `every` commits landed since the last one
    * (or since genesis) — the Delta `checkpointInterval` dial for
    * maintenance loops that commit continuously (e.g. streaming IVM).
    * Returns the checkpointed version, or None when under the interval. */
  def maybeCheckpoint(dir: String, every: Int = 10): Option[Long] = {
    require(every >= 1, s"checkpoint interval must be >= 1: $every")
    val cur = currentVersion(dir)
    val last = checkpointVersions(dir).lastOption.getOrElse(0L)
    if (cur - last >= every) Some(checkpoint(dir)) else None
  }

  /** Number of manifests a read at `asOf` replays — the planning-cost
    * probe the checkpoint exists to bound: O(total commits) without one,
    * O(commits since the newest usable checkpoint) with. */
  def foldCost(dir: String, asOf: Option[Long] = None): Int = {
    val upto = asOf.getOrElse(Long.MaxValue)
    val ms = manifests(dir).filter(_._1 <= upto)
    checkpointVersions(dir).filter(_ <= upto).lastOption match {
      case Some(cv) => ms.count(_._1 > cv)
      case None     => ms.length
    }
  }

  private def snapshotAt(dir: String, upto: Long): Snapshot = {
    val ld = logDir(dir)
    require(Files.exists(ld), s"not a txnlog table (no ${ld})")
    val ms = manifests(dir).filter(_._1 <= upto)
    require(ms.nonEmpty, s"no committed version <= $upto")
    checkpointVersions(dir).filter(_ <= upto).lastOption match {
      case Some(cv) =>
        ms.filter(_._1 > cv).foldLeft(parseCheckpoint(dir, cv)) {
          case (acc, (_, p)) => foldOne(acc, p)
        }
      case None =>
        ms.foldLeft(Snapshot(Vector.empty, Vector.empty)) { case (acc, (_, p)) =>
          foldOne(acc, p)
        }
    }
  }

  /** Oldest version whose data files are still on disk (advanced by
    * vacuum); reads below it fail loudly instead of hitting deleted
    * files mid-scan. */
  def minVersion(dir: String): Long = {
    val p = logDir(dir).resolve("min-version")
    if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8").trim.toLong else 1L
  }

  /** Effective in-commit timestamps, oldest first: (version, ts) with the
    * RUNNING MAX applied, so the sequence is monotone by construction even
    * if two racing writers' raw stamps interleaved (the claim protocol
    * cannot re-validate a stamp after the link wins; the running max makes
    * `TIMESTAMP AS OF` resolution deterministic and order-consistent
    * regardless — a regressed raw stamp can never shadow an earlier
    * version). Legacy unstamped manifests contribute their file mtime. */
  def commitTimestamps(dir: String): Vector[(Long, Long)] = {
    var run = 0L
    manifests(dir).toVector.map { case (v, p) =>
      run = math.max(run, stampOf(p)); (v, run)
    }
  }

  /** `TIMESTAMP AS OF`: the newest version whose effective in-commit
    * timestamp is ≤ `tsMicros` — fails loudly when the table is younger
    * than the probe (no silent empty read) or the resolved version was
    * vacuumed. */
  def versionAtTimestamp(dir: String, tsMicros: Long): Long = {
    val ts = commitTimestamps(dir)
    require(ts.nonEmpty, s"not a txnlog table (no commits): $dir")
    val at = ts.takeWhile(_._2 <= tsMicros)
    require(at.nonEmpty,
      s"no version at timestamp $tsMicros (oldest commit: ${ts.head._2})")
    at.last._1
  }

  /** Read the table as of a timestamp (micros) — resolves through
    * [[versionAtTimestamp]], then the ordinary versioned read (vacuum
    * watermark and column mapping apply as usual). */
  def readAtTimestamp(spark: SparkSession, dir: String, tsMicros: Long): DataFrame =
    read(spark, dir, Some(versionAtTimestamp(dir, tsMicros)))

  /** CONSISTENT MULTI-TABLE SNAPSHOT: resolve every table to the version
    * an observer at `tsMicros` would have seen — (dir → version), all from
    * the same in-commit-timestamp axis, so a fact/dimension join at T can
    * never pair a post-T fact with a pre-T dim or vice versa (the version
    * skew an uncoordinated two-table read silently produces). Stamps are
    * per-table monotone (the claim clamp); cross-table comparability is
    * the shared clock's contract, exactly as in any multi-table lakehouse.
    * Fails loudly if ANY table is younger than the probe — a silent
    * partial snapshot is the bug this API exists to prevent. */
  def snapshotAtTimestamp(dirs: Seq[String], tsMicros: Long): Map[String, Long] =
    dirs.map(d => d -> versionAtTimestamp(d, tsMicros)).toMap

  /** Read the table at `asOf` (default: latest). Only manifest-listed files
    * are visible; orphaned data directories (crashed writers) are not.
    * Visible delete vectors apply as anti-joins on their key columns. A
    * version that does not exist (above the head or below the vacuum
    * watermark) fails at PLANNING time — never a silent wrong snapshot. */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val upto = asOf.getOrElse(Long.MaxValue)
    require(upto >= minVersion(dir),
      s"version $upto was vacuumed (oldest retained: ${minVersion(dir)})")
    asOf.foreach(v => require(v <= currentVersion(dir),
      s"version $v does not exist (current: ${currentVersion(dir)})"))
    val snap = snapshotAt(dir, upto)
    // The visible set can be legitimately EMPTY (a removes-only exchange:
    // full-table DELETE, a merge whose delete clause emptied every touched
    // file): serve ZERO ROWS at the schema of the most recent version
    // that still had files, so downstream plans keep resolving — an empty
    // table is a state, not an error.
    if (snap.files.isEmpty) {
      // ONE forward fold finds the last version whose set was non-empty
      // (re-folding per walked version would be O(versions²) on a table
      // emptied early in a long history); starts from the same checkpoint
      // snapshotAt uses, so pre-checkpoint manifests never re-parse.
      // Only versions AT OR ABOVE the vacuum watermark qualify — a
      // non-empty version below it has no data files left on disk, and
      // serving its schema would crash mid-scan instead of returning the
      // zero rows an empty table legitimately holds.
      val minV = minVersion(dir)
      val cur = math.min(upto, currentVersion(dir))
      val (seed, from) = checkpointVersions(dir).filter(_ <= cur).lastOption match {
        case Some(cv) => (parseCheckpoint(dir, cv), cv)
        case None     => (Snapshot(Vector.empty, Vector.empty), Long.MinValue)
      }
      val seed0 = if (seed.files.nonEmpty && from >= minV) Some(seed) else None
      val lastWithFiles = manifests(dir)
        .filter { case (v, _) => v > from && v <= cur }.sortBy(_._1)
        .foldLeft((seed, seed0)) {
          case ((acc, best), (v, p)) =>
            val next = foldOne(acc, p)
            (next, if (next.files.nonEmpty && v >= minV) Some(next) else best)
        }._2
      return lastWithFiles match {
        case Some(prev) =>
          readFileSet(spark, dir, prev.files, prev, mergeSchema).limit(0)
        case None =>
          // last non-empty version vacuumed (or the table never held
          // data): serve the stored DDL schema if CREATE TABLE persisted
          // one, else a schemaless empty frame — zero rows either way
          val sp = logDir(dir).resolve("_schema.json")
          if (Files.exists(sp))
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.DataType.fromJson(
                new String(Files.readAllBytes(sp), "UTF-8"))
                .asInstanceOf[org.apache.spark.sql.types.StructType])
          else spark.emptyDataFrame
      }
    }
    // mergeSchema = SCHEMA EVOLUTION on read: a version that ADDED columns
    // unions with older files' rows as nulls (time travel below the
    // evolution point naturally serves the old schema). Off by default —
    // the footer-union costs planning time a fixed-schema table never pays.
    readFileSet(spark, dir, snap.files, snap, mergeSchema)
  }

  /** Catalog-facing scan plan (the DSv2 SQL front door — see
    * [[graft.sources.GraftCatalog]]): resolve a snapshot to its ABSOLUTE
    * visible data-file list. `plain` is true when no pending logical
    * action (global/scoped delete vector, column rename, column drop)
    * stands between the raw files and the table's contents — exactly the
    * snapshots a file-scan connector may serve by listing files; anything
    * else must go through [[read]] (or be materialized by [[compact]])
    * first. An empty chain (CREATE TABLE, no commit yet) is version 0
    * with no files. */
  def fileScanPlan(dir: String, asOf: Option[Long] = None): (Long, Vector[String], Boolean) = {
    if (manifests(dir).isEmpty) return (0L, Vector.empty, true)
    val v = math.min(asOf.getOrElse(Long.MaxValue), currentVersion(dir))
    require(v >= minVersion(dir),
      s"version $v was vacuumed (oldest retained: ${minVersion(dir)})")
    asOf.foreach(a => require(a <= currentVersion(dir),
      s"version $a does not exist (current: ${currentVersion(dir)})"))
    val snap = snapshotAt(dir, v)
    val plain = snap.dvs.isEmpty && snap.scoped.isEmpty &&
      snap.renames.isEmpty && snap.drops.isEmpty
    (v, snap.files.map(resolve(dir, _)), plain)
  }

  /** Anti-join every delete vector in `dvs` onto `df` (the merge-on-read
    * reader path — each vector is a broadcast-sized key list). Key
    * columns and vector files translate through the renames that folded
    * after each vector (see the Snapshot doc). */
  private def applyDvs(spark: SparkSession, dir: String, df: DataFrame,
                       dvs: Vector[(Vector[String], Seq[String], Int)],
                       renames: Vector[(String, String, Set[String])] = Vector.empty): DataFrame =
    dvs.foldLeft(df) { case (acc, (dvFiles, keyCols, off)) =>
      val later = renames.drop(off)
      acc.join(renameDf(spark.read.parquet(dvFiles.map(resolve(dir, _)): _*), later),
        renameCols(keyCols, later), "left_anti")
    }

  /** One replace pass: `build` over the latest read becomes the whole
    * visible set. `partitionBy` keeps a PARTITIONED table's layout
    * through the rewrite (the SQL DML fallback on catalog tables): the
    * replace lands in the shared pdata tree, so later catalog scans still
    * see one hive structure; a zero-row partitioned rewrite stages no
    * files and commits an empty R (the empty read serves the stored DDL
    * schema). `noop` = the caller guarantees the rewrite is LOGICALLY
    * identity (compact: layout changes, content doesn't — pending vectors
    * were already applied on the read it rewrote). Recorded in the
    * marker — the Delta `operation=OPTIMIZE` pattern — so the change
    * feed can skip the snapshot diff for pure compactions by metadata
    * alone. */
  private def replacePass(spark: SparkSession, dir: String,
                          noop: Boolean = false,
                          mergeSchema: Boolean = false,
                          partitionBy: Seq[String] = Nil,
                          keys: Option[DataFrame] = None)
                         (build: DataFrame => DataFrame): Claim = {
    val s = stage(build(read(spark, dir, mergeSchema = mergeSchema)), dir,
      partitionBy, shared = partitionBy.nonEmpty)
    Claim(if (noop) "R noop" else "R", s.files, Seq(s), keys)
  }

  /** A replace-commit with conflict RE-VALIDATION: [[replacePass]] in
    * [[casLoop]]. An interleaved commit (append, delete vector, another
    * replace) makes the claim lose and the build re-run against the new
    * snapshot — what makes compact/delete safe against the lost-update
    * race instead of silently dropping an interleaved append. */
  private def replaceCommitValidated(spark: SparkSession, dir: String,
                                     noop: Boolean = false)
                                    (build: DataFrame => DataFrame): Long =
    casLoop(spark, dir)(_ => replacePass(spark, dir, noop)(build))

  /** Compact: rewrite the current visible set as one replace-commit
    * (re-validated against concurrent commits — see above). Prior versions
    * remain time-travel-readable; the latest view plans only the compacted
    * files, and any pending delete vectors are materialized into the
    * rewrite (the small-file maintenance pass — q186 plans WHICH files to
    * bin, this executes the rewrite). `numFiles > 0` coalesces the rewrite
    * to that many files (the OPTIMIZE target-size dial, reduced to a
    * count). */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 0): Long =
    replaceCommitValidated(spark, dir, noop = true)(cur =>
      if (numFiles > 0) cur.coalesce(numFiles) else cur)

  /** OPTIMIZE ZORDER BY (colX, colY): rewrite the visible set as ONE
    * replace-commit whose `numFiles` files tile the Morton curve over the
    * two columns, and record each file's (colX, colY) min/max in the
    * stats sidecar — so [[scanPruned]] skips files for predicates on
    * EITHER dimension through the ordinary txn-log read path (the
    * Delta/Iceberg `OPTIMIZE ZORDER BY` composition; q191/q200 measure
    * the curve's skipping power standalone, this wires it into the
    * table). Same CAS discipline as [[compact]]: content is identity
    * (pending vectors materialize into the rewrite), the claim re-runs
    * against any interleaved commit, and a lost claim's files are
    * removed unreferenced.
    *
    * Both dimensions are RANGE-NORMALIZED to 16-bit codes before
    * interleaving — `qx = (x − min)·2¹⁶ div (max − min + 1)` — because a
    * raw interleave of unequal-width columns is dominated by the wider
    * one's high bits and the narrow dimension never partitions (measured
    * round 9: suppkey got 0/16 skippable files un-normalized, 10/16
    * after). Integer ops only, so the oracle restates the curve exactly.
    *
    * File assignment is DETERMINISTIC — global position in (z,
    * tieCols...) order, then bin = floor((ordinal−1)·numFiles / n), one
    * file per bin via an explicit bin partitioner — so an oracle can
    * restate every file's zone map from the data alone (a sampled
    * range-partitioner write would be approximate; determinism is what
    * makes the layout hash-gateable). The whole assignment is ONE range
    * exchange on the curve key plus a per-partition-count job
    * (globalPrefixSum's scheme, fused here so the binned rows flow
    * straight into the partitioner — no ordinal column, no second full
    * pass). Stats land post-claim via [[zoneMaps]] of the new files; a
    * reader racing the gap keeps all files (sound, never wrong). */
  def optimizeZorder(spark: SparkSession, dir: String, colX: String,
                     colY: String, numFiles: Int,
                     tieCols: Seq[String]): Long =
    zorderAll(spark, dir, colX, colY, tieCols, numFiles, "optimizeZorder")((_, _, _) => ())

  /** The full z-order rewrite of [[optimizeZorder]] and of the first
    * [[optimizeClustered]] pass, in [[casLoop]]: one `R noop` replace of
    * the latest read, zone maps of the new files on the won version,
    * then `onWin(version, files, bounds)`. */
  private def zorderAll(spark: SparkSession, dir: String, colX: String,
                        colY: String, tieCols: Seq[String], numFiles: Int,
                        op: String)
                       (onWin: (Long, Vector[String], (Long, Long, Long, Long)) => Unit): Long =
    casLoop(spark, dir) { _ =>
      val cur = read(spark, dir).localCheckpoint()
      // ONE aggregation: row count + both dimensions' 16-bit-normalization
      // bounds (metadata-row job)
      val (n, bounds) = countAndBounds(cur, colX, colY)
      require(n > 0, s"$op on an empty table")
      val s = zTiledFiles(spark, dir, cur, colX, colY, tieCols, numFiles, bounds, n)
      Claim("R noop", s.files, Seq(s), onWin = { v =>
        writeZoneStats(dir, v, zoneMaps(spark, dir, s.files, Seq(colX, colY)))
        onWin(v, s.files, bounds)
      })
    }

  private def countAndBounds(cur: DataFrame, colX: String,
                             colY: String): (Long, (Long, Long, Long, Long)) = {
    val b = cur.agg(count(lit(1)),
      min(col(colX).cast("long")), max(col(colX).cast("long")),
      min(col(colY).cast("long")), max(col(colY).cast("long"))).head()
    val n = b.getLong(0)
    (n, if (n == 0) (0L, 0L, 0L, 0L)
        else (b.getLong(1), b.getLong(2), b.getLong(3), b.getLong(4)))
  }

  /** Deterministic z-tiled rewrite of `cur` (n rows) into `numFiles`
    * files: 16-bit range-normalized Morton code (values outside the
    * normalization frame CLAMP to its edges — identity when the frame is
    * the data's own bounds, and what keeps an incremental pass's codes
    * on the same curve as the frame-setting full pass), global position
    * in (z, tieCols...) order, bin = floor((ordinal−1)·numFiles / n).
    * One range exchange + a per-partition-count job; returns the flat
    * stage. */
  private def zTiledFiles(spark: SparkSession, dir: String, cur: DataFrame,
                          colX: String, colY: String, tieCols: Seq[String],
                          numFiles: Int, bounds: (Long, Long, Long, Long),
                          n: Long): Staged = {
    import org.apache.spark.sql.Row
    val (mnX, mxX, mnY, mxY) = bounds
    def norm(c: String, mn: Long, mx: Long) =
      expr(s"((least(greatest($c, $mn), $mx) - $mn) * 65536) div (${mx - mn} + 1)")
    val zc = graft.queries.LayoutOps.zInterleave(
      norm(colX, mnX, mxX), norm(colY, mnY, mxY))
    val key = org.apache.spark.sql.functions.struct(
      (zc.as("__z") +: tieCols.map(col)): _*)
    val dataCols = cur.columns.toSeq
    val ranged = cur.select((key.as("__k") +: dataCols.map(col)): _*)
      .repartitionByRange(numFiles, col("__k")).sortWithinPartitions(col("__k"))
      .rdd
    val counts = ranged
      .mapPartitionsWithIndex { (i, it) =>
        Iterator.single(i -> it.foldLeft(0L)((a, _) => a + 1L))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = numFiles
      override def getPartition(k: Any): Int = k.asInstanceOf[Long].toInt
    }
    val rows = ranged.mapPartitionsWithIndex { (i, it) =>
      var ord = offsets(i)
      it.map { r =>
        ord += 1
        ((ord - 1) * numFiles / n, Row.fromSeq(r.toSeq.drop(1)))
      }
    }.partitionBy(part).values
    val out = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(cur.schema.fields))
    stage(out, dir)
  }

  // ------------------------------------------------------------------
  // INCREMENTAL CLUSTERING (the Delta liquid-clustering shape): the
  // clustering spec is TABLE METADATA, and each OPTIMIZE pass rewrites
  // ONLY the files appended since the last one — already-clustered
  // files never move again. At 100 TB this is the difference between a
  // table-sized rewrite per maintenance window (q267's full ZORDER —
  // correct, but its cost scales with the table) and a rewrite that
  // scales with the INGEST since last optimize. The first pass sets the
  // table's normalization frame (its own data bounds, persisted);
  // later passes clamp onto that frame so every generation's codes lie
  // on one curve and zone-map skipping spans generations.
  // ------------------------------------------------------------------

  private def clusteringPath(dir: String): Path = logDir(dir).resolve("clustering")
  private def clusteredSetPath(dir: String): Path = logDir(dir).resolve("clustered-files")

  /** Record the clustering spec (the `ALTER TABLE ... CLUSTER BY` slot).
    * Takes effect on the next [[optimizeClustered]]; single-writer
    * metadata op by contract (the addConstraint precedent). Re-declaring
    * a DIFFERENT spec resets the clustered state — the next optimize is
    * a full re-cluster under the new spec. */
  def clusterBy(dir: String, colX: String, colY: String,
                tieCols: Seq[String] = Nil): Unit = {
    require((Seq(colX, colY) ++ tieCols).forall(c =>
      c.nonEmpty && !c.contains("\t") && !c.contains("\n")), "bad column name")
    Files.createDirectories(logDir(dir))
    val prev = clusteringOf(dir)
    // re-declaring the SAME spec is a no-op: rewriting the meta file here
    // would drop its `bounds` line (the normalization frame the first
    // optimize persisted) and silently degrade the next OPTIMIZE to a
    // full-table rewrite — the exact cost the incremental path avoids
    if (prev.exists(p => (p._1, p._2, p._3) == ((colX, colY, tieCols)))) return
    writeMetaFile(clusteringPath(dir),
      s"cols\t$colX\t$colY\t${tieCols.mkString(",")}\n")
    Files.deleteIfExists(clusteredSetPath(dir))
    ()
  }

  /** The recorded spec: (colX, colY, tieCols, bounds-if-set). */
  def clusteringOf(dir: String): Option[(String, String, Seq[String],
                                         Option[(Long, Long, Long, Long)])] = {
    val p = clusteringPath(dir)
    if (!Files.exists(p)) return None
    val lines = new String(Files.readAllBytes(p), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    val cols = lines.find(_.startsWith("cols\t")).map(_.split("\t", -1))
    cols.map { c =>
      val tie = c.lift(3).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
      val b = lines.find(_.startsWith("bounds\t")).map(_.split("\t"))
        .map(a => (a(1).toLong, a(2).toLong, a(3).toLong, a(4).toLong))
      (c(1), c(2), tie, b)
    }
  }

  /** The relative files recorded as clustered (intersect with the
    * current snapshot to interpret — a replace commit can retire them). */
  def clusteredFiles(dir: String): Set[String] = {
    val p = clusteredSetPath(dir)
    if (!Files.exists(p)) Set.empty
    else new String(Files.readAllBytes(p), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSet
  }

  /** OPTIMIZE on the recorded clustering spec, incrementally. First call
    * = a full z-order rewrite that also persists the normalization frame
    * and the clustered file set. Every later call rewrites ONLY the
    * visible files not in that set (the appends since), commits them as
    * an `X noop` exchange — clustered files' bytes are never touched
    * again — and writes the new files' zone maps so [[scanPruned]] skips
    * across generations. Returns the version won (or the current version
    * unchanged when there is nothing new to cluster). Pending GLOBAL
    * delete vectors stay pending across the exchange (value-based, the
    * compactSmall rule); scoped vectors / column mappings require a
    * materializing [[compact]] first. */
  def optimizeClustered(spark: SparkSession, dir: String, numFiles: Int): Long = {
    val (cx, cy, tie, bounds0) = clusteringOf(dir).getOrElse(
      throw new IllegalArgumentException(
        s"no clustering spec on $dir: call clusterBy first"))
    if (bounds0.isEmpty) // first pass: full rewrite, frame-setting
      zorderAll(spark, dir, cx, cy, tie, numFiles, "optimizeClustered") {
        case (_, files, (mnX, mxX, mnY, mxY)) =>
          writeMetaFile(clusteringPath(dir),
            s"cols\t$cx\t$cy\t${tie.mkString(",")}\n" +
              s"bounds\t$mnX\t$mxX\t$mnY\t$mxY\n")
          writeMetaFile(clusteredSetPath(dir), files.sorted.mkString("", "\n", "\n"))
      }
    else casLoop(spark, dir) { base =>
      val snap = snapshotAt(dir, base)
      require(snap.scoped.isEmpty && snap.renames.isEmpty && snap.drops.isEmpty,
        "pending scoped vectors / column mapping: compact() first " +
          "(materializes), then re-run optimizeClustered")
      val clustered = clusteredFiles(dir).intersect(snap.files.toSet)
      val cands = snap.files.filter(f => !clustered(f) && !f.startsWith("@"))
      // partition-aware candidate read: hive-layout commit files keep
      // their dir-encoded partition column (the rewrite stores it in-file
      // afterward — the readFileSet unions reconcile the two by name)
      lazy val cur = readLeavesRaw(spark, dir, cands).localCheckpoint()
      lazy val n = cur.count()
      if (cands.isEmpty || n == 0) Done(base)
      else {
        val s = zTiledFiles(spark, dir, cur, cx, cy, tie, numFiles, bounds0.get, n)
        Claim("X noop", cands.map("-" + _) ++ s.files.map("+" + _), Seq(s), onWin = { v =>
          writeZoneStats(dir, v, zoneMaps(spark, dir, s.files, Seq(cx, cy)))
          writeMetaFile(clusteredSetPath(dir),
            (clustered ++ s.files).toVector.sorted.mkString("", "\n", "\n"))
        })
      }
    }
  }

  /** PARTIAL compaction: bin-pack only the visible files SMALLER than
    * `thresholdBytes` into `targetFiles` rewrites, committed as an `X`
    * exchange — large files never move. This is the OPTIMIZE semantics a
    * 100 TB table actually needs: streaming/IVM appends leave a long
    * tail of KB-sized files, and full [[compact]] pays a table-sized
    * rewrite to fix a metadata-sized problem; the exchange here moves
    * only the small tail's bytes (q186 plans WHICH files to bin; this
    * executes the rewrite). Pending delete vectors stay PENDING across
    * an X (value-based anti-joins re-apply exactly), so unlike the full
    * rewrite this never materializes them — which is also what keeps it
    * an exchange, not a replace. Concurrency follows merge: CAS-claim
    * exactly base+1; on losing, discard the stale rewrite and re-derive
    * the small-file set against the new snapshot. External (`@`) clone
    * references are skipped — their bytes belong to the source table.
    * Returns the version won, or the current version unchanged when
    * fewer than two small files exist (nothing to pack). */
  def compactSmall(spark: SparkSession, dir: String, thresholdBytes: Long,
                   targetFiles: Int = 1): Long = {
    require(thresholdBytes > 0 && targetFiles >= 1, "bad compactSmall sizing")
    casLoop(spark, dir) { base =>
      val snap = snapshotAt(dir, base)
      // pending UPDATE vectors bind to file sets an exchange would break —
      // materialize them with a full rewrite instead (the Delta rule:
      // OPTIMIZE rewrites DVs away)
      // column-mapped snapshots also take the full rewrite: the packer
      // below reads raw files, which would bypass the rename layer
      lazy val smalls = snap.files.filter(f => !f.startsWith("@") &&
        Files.size(Paths.get(dir, f)) < thresholdBytes)
      if (snap.scoped.nonEmpty || snap.renames.nonEmpty || snap.drops.nonEmpty)
        replacePass(spark, dir, noop = true)(_.coalesce(targetFiles)) // = compact
      else if (smalls.size < 2) Done(base)
      else {
        val s = stage(spark.read.parquet(smalls.map(resolve(dir, _)): _*)
          .coalesce(targetFiles), dir) // single use: flows straight into the write
        // `X noop`: record-identity by construction — the packed adds ARE
        // the removed rows (vectors untouched on both sides), so the change
        // feed can skip the diff by metadata alone (the R-noop pattern)
        Claim("X noop", smalls.map("-" + _) ++ s.files.map("+" + _), Seq(s))
      }
    }
  }

  /** Row-level DELETE, copy-on-write: rewrite the visible set without the
    * matching rows as one replace-commit (re-validated against concurrent
    * commits). The pre-delete version stays time-travel-readable until
    * vacuumed — exactly the recovery story real formats sell. Use
    * [[deleteVector]] for the merge-on-read path that avoids the rewrite. */
  def delete(spark: SparkSession, dir: String, predicate: String): Long =
    replaceCommitValidated(spark, dir)(_.filter(not(expr(predicate))))

  /** Row-level DELETE, FILE-GRANULAR copy-on-write — the scale path
    * between [[delete]] (whole-table rewrite) and [[deleteVector]]
    * (merge-on-read): one pass over the visible set finds the files
    * containing a matching row, ONLY those files are rewritten without
    * the matched rows, and the commit is an `X` exchange — a predicate
    * touching 1 of 10⁶ files moves one file's bytes, not 100 TB. NULL
    * predicate values keep the row (SQL DELETE semantics). Falls back to
    * one validated replace-commit when the snapshot carries pending
    * vectors / column mapping / external clone references or hive-layout
    * commits (the exchange needs flat `rel/file` paths). Concurrency
    * follows [[mergeInto]]: claim exactly base+1, on loss re-derive the
    * touched set against the new snapshot — or abort per `isolation`
    * ([[classifyConflict]] classes an exchange as a content rewrite).
    * This is the statement SQL `DELETE FROM t WHERE p` lowers to
    * ([[graft.plans.SqlDml]]). Returns the version won (unchanged if
    * nothing matched). */
  def deleteWhere(spark: SparkSession, dir: String, cond: Column,
                  isolation: Isolation = Isolation.Rederive,
                  widenTo: Option[org.apache.spark.sql.types.StructType] = None,
                  partitionBy: Seq[String] = Nil): Long =
    rewriteWhere(spark, dir, cond, isolation, widenTo, partitionBy)(
      (df, hit) => df.filter(!hit))

  /** Row-level UPDATE, FILE-GRANULAR copy-on-write: same touched-file
    * discovery and `X` exchange as [[deleteWhere]], with matched rows
    * taking the SET expressions SIMULTANEOUSLY (standard SQL UPDATE —
    * every value sees the pre-update row; [[update]]'s sequential SETs
    * and key-file vectors are the merge-on-read contrast). Values cast
    * to the column's type, so a rewrite never widens the schema. This is
    * the statement SQL `UPDATE t SET ... WHERE p` lowers to. Returns the
    * version won (unchanged if nothing matched). */
  def updateWhere(spark: SparkSession, dir: String,
                  set: Seq[(String, Column)], cond: Column,
                  isolation: Isolation = Isolation.Rederive,
                  widenTo: Option[org.apache.spark.sql.types.StructType] = None,
                  partitionBy: Seq[String] = Nil): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET expression")
    require(set.map(_._1).distinct.size == set.size,
      "updateWhere assigns a column twice")
    rewriteWhere(spark, dir, cond, isolation, widenTo, partitionBy) { (df, hit) =>
      val bySet = set.toMap
      val types = df.schema.map(f => f.name -> f.dataType).toMap
      require(bySet.keySet.subsetOf(types.keySet),
        s"updateWhere targets unknown columns: ${bySet.keySet -- types.keySet}")
      df.select(df.columns.toSeq.map { c =>
        bySet.get(c) match {
          case Some(e) => when(hit, e.cast(types(c))).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
    }
  }

  /** Serve a file slice at the caller's declared schema (`widenTo` — the
    * catalog's view after a metadata-only ADD COLUMN): files read with
    * footer merging (some may already store the column, some predate
    * it), columns no file stores fill NULL, output order = declared
    * order. Without `widenTo` the slice serves raw. */
  private def widenSlice(df: DataFrame,
                         widenTo: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    widenTo match {
      case None => df
      case Some(s) =>
        val have = df.columns.toSet
        df.select(s.fields.toSeq.map(f =>
          if (have.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)) ++
          df.columns.toSeq.filterNot(s.fieldNames.contains).map(col): _*)
    }

  /** Shared skeleton of [[deleteWhere]]/[[updateWhere]]: the
    * [[exchange]] whose touched files hold a row the predicate hits and
    * whose rewrite applies `transform` (which sees the null-safe hit
    * column) to the touched slice — or to the whole table on the replace
    * fallback. Nothing touched is a no-op. An exchange classifies as a
    * content rewrite, so under Abort it conflicts with any interleaved
    * rewrite or keyed op. */
  private def rewriteWhere(spark: SparkSession, dir: String, cond: Column,
                           isolation: Isolation,
                           widenTo: Option[org.apache.spark.sql.types.StructType],
                           partitionBy: Seq[String])
                          (transform: (DataFrame, Column) => DataFrame): Long = {
    val hit = coalesce(cond, lit(false))
    exchange(spark, dir, isolation, "R", Nil, None, widenTo, partitionBy)(
      _.filter(hit), _.map(transform(_, hit)), transform(_, hit))
  }

  /** Can this snapshot's change commit as an `X` exchange of flat files?
    * Not with pending vectors or column mapping (a vector would suppress
    * re-added keys; raw file reads bypass the mapping), `@` clone refs
    * (their bytes belong to the source table) or hive-layout files (a
    * leaf read loses the dir-encoded partition column). */
  private def exchangeable(snap: Snapshot): Boolean =
    snap.dvs.isEmpty && snap.scoped.isEmpty && snap.renames.isEmpty &&
      snap.drops.isEmpty && snap.files.forall(f => !f.startsWith("@") && f.count(_ == '/') == 1)

  /** The FILE-GRANULAR EXCHANGE behind [[merge]], [[mergeGrammar]] and
    * [[rewriteWhere]], one [[casLoop]] pass per snapshot. One scan of the
    * visible files, tagged with each row's file, keeps the rows that
    * `touches`; ONLY those files are rewritten — `rewrite` maps the
    * touched slice (None when nothing is touched) to the rows replacing
    * it (None: nothing to add) — and the commit is an `X`: remove the
    * touched files, add the rewrite's, or remove only when the rewrite
    * holds no rows. Nothing removed and nothing added is a no-op. A
    * snapshot that is not [[exchangeable]] takes one replace of
    * `whole(latest read)` instead, which materializes what blocked the
    * exchange; `partitionBy` keeps a partitioned table's layout through
    * it. `widenTo` serves every read at the caller's declared schema,
    * with footers merged (post-ADD-COLUMN tables mix file schemas, and
    * single-footer inference would drop a column some files store). Both
    * kinds of pass run under the caller's `isolation`, judged as
    * `conflictMarker` with `keys` on `keyCols`. The driver-side touched
    * list is metadata-sized (file names, not rows). */
  private def exchange(spark: SparkSession, dir: String, isolation: Isolation,
                       conflictMarker: String, keyCols: Seq[String],
                       keys: Option[DataFrame],
                       widenTo: Option[org.apache.spark.sql.types.StructType],
                       partitionBy: Seq[String])
                      (touches: DataFrame => DataFrame,
                       rewrite: Option[DataFrame] => Option[DataFrame],
                       whole: DataFrame => DataFrame): Long = {
    def readFiles(rels: Seq[String]): DataFrame = widenSlice(
      (if (widenTo.isEmpty) spark.read else spark.read.option("mergeSchema", "true"))
        .parquet(rels.map(resolve(dir, _)): _*), widenTo)
    casLoop(spark, dir, isolation, conflictMarker, keyCols) { base =>
      val snap = snapshotAt(dir, base)
      lazy val untouched = rewrite(None)
      if (snap.files.isEmpty && untouched.isEmpty) Done(base)
      else if (!exchangeable(snap))
        replacePass(spark, dir, mergeSchema = widenTo.nonEmpty,
          partitionBy = partitionBy, keys = keys)(cur => whole(widenSlice(cur, widenTo)))
      else {
        val touched =
          if (snap.files.isEmpty) Vector.empty
          else touches(readFiles(snap.files)
              .withColumn("__rel", substring_index(input_file_name(), "/", -2)))
            .select(col("__rel")).distinct().collect().map(_.getString(0)).sorted.toVector
        val staged = (if (touched.isEmpty) untouched else rewrite(Some(readFiles(touched))))
          .map(stage(_, dir, dropEmpty = true))
        val body = touched.map("-" + _) ++ staged.toVector.flatMap(_.files.map("+" + _))
        if (body.isEmpty) Done(base) else Claim("X", body, staged.toSeq, keys)
      }
    }
  }

  // ------------------------------------------------------------------
  // COLUMN MAPPING: metadata-only RENAME and DROP (the Delta
  // column-mapping move, scoped-rename style). A rename commits one
  // `M rename` manifest — zero data files move, even at 100 TB; the
  // read path renames the files that predate it (its fold-time scope)
  // and serves files written afterward — which carry the new logical
  // name in-parquet — untouched. A drop commits `M drop` and removes
  // the column logically at read; bytes stay until the next rewrite.
  // Any full rewrite (compact, CoW delete, restore-with-vectors,
  // OPTIMIZE) reads through the mapping and MATERIALIZES it — the `R`
  // fold resets the action list, exactly like pending vectors.
  // Pending delete/update vectors COMMUTE with renames (each vector
  // records its rename offset; applying it translates key columns and
  // key files through the renames that folded later); dropping a
  // column a pending vector keys on is refused. Contract: schema
  // actions are table-owner operations — writers appending
  // CONCURRENTLY with a rename may race it (a plain `A` append claims
  // any slot and never re-validates; its files land in the rename's
  // scope only if they fold below it), so run them in a maintenance
  // window, like raw `commit(replace = true)`. Renaming onto a live
  // column name, or renaming a column that never existed, is not
  // validated here (the physical schema lives in the parquet footers,
  // not the log) — a rename of an absent column is a visible no-op.
  // ------------------------------------------------------------------

  /** Metadata-only column rename; returns the version won. */
  def renameColumn(dir: String, oldName: String, newName: String): Long = {
    require(oldName.nonEmpty && newName.nonEmpty && oldName != newName,
      s"bad rename: '$oldName' -> '$newName'")
    require(Seq(oldName, newName).forall(c => !c.contains("\t") && !c.contains("\n")),
      "column names must be tab/newline-free (manifest syntax)")
    val snap = snapshotAt(dir, Long.MaxValue) // also: fail fast on a non-table
    require(!snap.drops.contains(oldName) && !snap.drops.contains(newName),
      s"rename $oldName -> $newName touches a dropped column")
    claimNext(dir, s"M rename\t$oldName\t$newName", Seq.empty)
  }

  /** Metadata-only column drop; returns the version won. Refused while a
    * pending delete/update vector keys on the column (its anti-join
    * needs it) — materialize via [[compact]] first. */
  def dropColumn(dir: String, name: String): Long = {
    require(name.nonEmpty && !name.contains("\t") && !name.contains("\n"),
      s"bad column name: '$name'")
    val snap = snapshotAt(dir, Long.MaxValue)
    require(!snap.drops.contains(name), s"column $name already dropped")
    val liveKeys = (snap.dvs.map(dv => (dv._2, dv._3)) ++
      snap.scoped.map(sv => (sv._2, sv._4))).flatMap { case (kcs, off) =>
        renameCols(kcs, snap.renames.drop(off))
      }
    require(!liveKeys.contains(name),
      s"cannot drop '$name': a pending delete/update vector keys on it")
    claimNext(dir, s"M drop\t$name", Seq.empty)
  }

  // ------------------------------------------------------------------
  // WRITE-CONFLICT CLASSIFICATION: the commit-pair matrix, explicit.
  // Every multi-writer race was already SAFE (CAS + re-derive = serial
  // re-execution); this section makes the semantics of each pair a
  // documented, testable surface the way Delta documents its
  // write-serializable conflict table — including the one resolution
  // re-derivation cannot give: letting the APPLICATION observe that a
  // concurrent writer targeted the same rows.
  // ------------------------------------------------------------------

  /** What a writer whose snapshot went stale (lost the base+1 CAS) may
    * do about ONE interleaved commit — see [[classifyConflict]]. */
  sealed trait Resolution
  object Resolution {
    /** The pair commutes: commit in any order (blind appends read
      * nothing, so no snapshot can go stale under them). */
    case object NoConflict extends Resolution
    /** Re-execute against the winner's snapshot. Serializable: the
      * outcome equals having run strictly after the winner, and the
      * loser's inputs are declarative (predicate / SET expressions /
      * source rows), so re-execution preserves its semantics exactly. */
    case object Rederive extends Resolution
    /** Silent re-execution would discard intent: either both writers
      * target the same keys (last-writer-wins would hide the first
      * write from the application) or the winner replaced content the
      * loser's whole read depended on. Under [[Isolation.Abort]] the
      * loser throws [[ConcurrentWriteException]] instead. */
    case object Conflict extends Resolution
  }

  /** How a row-level writer resolves a lost CAS. Six writers take it:
    * the keyed [[update]], [[deleteVector]], [[merge]] and [[mergeInto]]
    * (and SQL MERGE), and the file-granular [[deleteWhere]] and
    * [[updateWhere]]; it holds on every pass, the replace fallback
    * included. [[Isolation.Rederive]] (default) re-runs on the new
    * snapshot — full serializability by serial re-execution.
    * [[Isolation.Abort]] throws [[ConcurrentWriteException]] when any
    * interleaved commit classifies as [[Resolution.Conflict]] — the
    * write-serializable surface for callers whose write encodes a
    * read-modify-write computed OUTSIDE the engine from the stale
    * snapshot, where transparent re-execution is exactly the lost
    * update it looks like. Appends and content-identity maintenance
    * (compact / zorder / clustering / compactSmall) take no isolation:
    * they always re-derive and never abort anyone. */
  sealed trait Isolation
  object Isolation {
    case object Rederive extends Isolation
    case object Abort extends Isolation
  }

  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** The commit-pair conflict matrix. `attempt` is the loser's conflict
    * marker, `interleaved` one winner's manifest marker; `keysOverlap` is
    * consulted only for keyed winners (U/D) and may be expensive (a
    * semi-join), hence by-name. Marker classes: blind append (`A`/`T`),
    * content-identity maintenance (`R noop`/`X noop`), content-changing
    * rewrite (`R`/`X`), keyed row ops (`U`/`D`). A writer's conflict
    * marker is its own on every pass, whatever its manifest says:
    * [[update]] and [[merge]]/[[mergeInto]] attempt as `U <keyCols>`
    * (merge's write set IS its source keys, so its `X` exchange and its
    * `R` replace fallback both classify as keyed), [[deleteVector]] as
    * `D <keyCols>`, and [[deleteWhere]]/[[updateWhere]] as a rewrite.
    *
    *   attempt \ interleaved | append | maintenance | rewrite  | keyed (U/D)
    *   append                | none   | none        | none     | none
    *   maintenance           | re-run | re-run      | re-run   | re-run
    *   rewrite               | re-run | re-run      | CONFLICT | CONFLICT
    *   keyed (U/D/merge)     | re-run | re-run      | CONFLICT | overlap ? CONFLICT : re-run
    *
    * Appends never conflict in either role (fold-order-independent).
    * Maintenance re-runs under everything and aborts no one — its
    * content is identity, so re-execution loses nothing. A
    * content-changing rewrite (CoW delete, restore, any replace
    * fallback) invalidates every stale read wholesale: keyed attempts
    * conflict with it, and two rewrites conflict with each other (their
    * key sets are implicit in predicates, unknowable from manifests —
    * conservative). Keyed-vs-keyed checks actual key intersection; an
    * `X` exchange records files, not keys, so it classifies as a
    * rewrite. Unknown future markers classify as rewrites (fail safe). */
  def classifyConflict(attempt: String, interleaved: String,
                       keysOverlap: => Boolean): Resolution = {
    def cls(m: String): Char = m match {
      case "A"                          => 'a'
      case t if t.startsWith("T ")      => 'a'
      case "R noop" | "X noop"          => 'm'
      case u if u.startsWith("U ")      => 'k'
      case d if d.startsWith("D ")      => 'k'
      case _                            => 'r' // R, X, unknown: rewrite
    }
    (cls(attempt), cls(interleaved)) match {
      case ('a', _)            => Resolution.NoConflict
      case ('m', _)            => Resolution.Rederive
      case (_, 'a') | (_, 'm') => Resolution.Rederive
      case (_, 'r')            => Resolution.Conflict
      case (_, 'k')            =>
        if (keysOverlap) Resolution.Conflict else Resolution.Rederive
    }
  }

  /** Manifests interleaved after `base`, oldest first — metadata-sized
    * (the loser inspects at most the commits that beat it). */
  private def interleavedSince(dir: String, base: Long): Vector[(Long, String, Vector[String])] =
    manifests(dir).filter(_._1 > base).sortBy(_._1).toVector.map { case (v, p) =>
      val (m, body) = parseManifest(p); (v, m, body)
    }

  /** Do our keys intersect an interleaved U/D commit's key files? Key
    * files are metadata-sized, so the semi-join is broadcast-cheap.
    * No keys, or different key-column sets, are incomparable →
    * conservative true. */
  private def keyedOverlap(spark: SparkSession, dir: String, keys: Option[DataFrame],
                           keyCols: Seq[String], marker: String,
                           body: Vector[String]): Boolean = {
    val theirCols = marker.drop(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (keys.isEmpty || theirCols.toSet != keyCols.toSet) return true
    val rels =
      if (marker.startsWith("U ")) body.collect { case l if l.startsWith("V ") => l.drop(2) }
      else body
    rels.isEmpty ||
      spark.read.parquet(rels.map(resolve(dir, _)): _*)
        .join(keys.get, keyCols.toSeq, "left_semi").limit(1).count() > 0
  }

  /** Abort-mode gate, called by [[casLoop]] after a lost CAS: classify
    * every interleaved commit and throw on the first
    * [[Resolution.Conflict]]; returning normally means every pair
    * re-derives and the loop runs another pass. */
  private def enforceIsolation(spark: SparkSession, dir: String, base: Long,
                               attemptMarker: String, isolation: Isolation,
                               keys: Option[DataFrame], keyCols: Seq[String]): Unit =
    if (isolation == Isolation.Abort)
      interleavedSince(dir, base).foreach { case (v, m, body) =>
        if (classifyConflict(attemptMarker, m,
            keyedOverlap(spark, dir, keys, keyCols, m, body)) == Resolution.Conflict)
          throw new ConcurrentWriteException(
            s"commit [$attemptMarker] from snapshot v$base conflicts with " +
              s"interleaved v$v [$m]: overlapping keys or a content rewrite — " +
              "retry on a fresh snapshot, or use Isolation.Rederive for " +
              "transparent serial re-execution")
      }

  /** Test seam: [[casLoop]] runs it between every snapshot-derived
    * writer's staged attempt and its CAS claim, so specs can
    * deterministically interleave a conflicting commit (thread races
    * can't pin who loses). No-op in production. */
  private[graft] var claimFence: () => Unit = () => ()

  /** Row-level DELETE, merge-on-read: commit the matching rows' distinct
    * KEY VALUES as a delete vector — a metadata-sized commit, so a
    * one-row erasure never rewrites the table. Readers anti-join on
    * `keyCols`; the next compact/delete materializes the vector
    * physically. Snapshot semantics: rows appended AFTER the vector's
    * snapshot with matching keys are also suppressed (value-based
    * vectors delete BY KEY, not by file position — the property that
    * makes them commute with compaction and appends). Concurrency
    * follows [[update]]: claim exactly base+1 and on loss re-derive the
    * key set against the new snapshot (a blindly slot-bumped vector
    * would carry keys matched on a stale read — rows a concurrent
    * rewrite just changed out of the predicate would still die), or
    * abort per `isolation` and [[classifyConflict]]. Returns the
    * committed version, or the current version unchanged if nothing
    * matched. */
  def deleteVector(spark: SparkSession, dir: String, predicate: String,
                   keyCols: Seq[String],
                   isolation: Isolation = Isolation.Rederive): Long = {
    require(keyCols.nonEmpty, "deleteVector needs at least one key column")
    require(keyCols.forall(c => !c.contains(",") && c.trim.nonEmpty),
      s"key column names must be comma-free: $keyCols")
    val marker = "D " + keyCols.mkString(",")
    casLoop(spark, dir, isolation, marker, keyCols) { base =>
      val keys = read(spark, dir).filter(expr(predicate))
        .select(keyCols.map(col): _*).distinct().localCheckpoint()
      if (keys.isEmpty) Done(base)
      else {
        val s = stage(keys, dir)
        Claim(marker, s.files, Seq(s), Some(keys))
      }
    }
  }

  /** Row-level UPDATE, merge-on-read and ATOMIC: one `U <keyCols>`
    * commit carries BOTH the matching rows' key values (`V` body lines
    * — a delete vector) and the updated replacement rows (`+` lines),
    * so readers never observe the between-state a deleteVector+commit
    * pair would expose. The vector is SCOPED to the files visible below
    * the update (derived from fold position, never stored): the
    * update's own re-inserted keys and any LATER append with a matching
    * key stay visible — update means "replace what was there", not
    * "suppress this key forever" (the D-vector semantics). Set
    * expressions apply in order, each seeing the previous ones' output.
    * At 100 TB: a one-row update writes one key file + one row file —
    * no table rewrite, no touched-file rewrite (the step beyond
    * [[merge]]'s file-granular CoW). Concurrency follows merge:
    * CAS-claim exactly base+1, on loss discard and re-derive (a blind
    * retry could resurrect a concurrently-rewritten row). Replace-class
    * maintenance materializes scoped vectors (compact) or refuses to
    * exchange over them (compactSmall falls back to compact; merge
    * falls back to a validated replace; clone refuses). Returns the
    * version won, or the current version unchanged if nothing matched. */
  def update(spark: SparkSession, dir: String, predicate: String,
             set: Seq[(String, String)], keyCols: Seq[String],
             isolation: Isolation = Isolation.Rederive): Long = {
    require(keyCols.nonEmpty, "update needs at least one key column")
    require(set.nonEmpty, "update needs at least one SET expression")
    require(keyCols.forall(c => !c.contains(",") && c.trim.nonEmpty),
      s"key column names must be comma-free: $keyCols")
    val marker = "U " + keyCols.mkString(",")
    casLoop(spark, dir, isolation, marker, keyCols) { base =>
      val cur = read(spark, dir)
      val matching = cur.filter(expr(predicate)).localCheckpoint()
      if (matching.isEmpty) Done(base)
      else {
        val keys = matching.select(keyCols.map(col): _*).distinct().localCheckpoint()
        // the vector deletes BY KEY — if a visible row shares a matched
        // key without matching the predicate, committing would silently
        // erase it (suppressed by the vector, never re-inserted). Refuse
        // loudly: key identity is the caller's contract, and the check is
        // one semi-join count over the same read the update already paid.
        val covered = cur.join(keys, keyCols, "left_semi").count()
        val matched = matching.count()
        require(covered == matched,
          s"keyCols $keyCols do not identify the matched rows: ${covered - matched} " +
            "non-matching row(s) share a matched key and would be lost — update by " +
            "a unique key, or widen the predicate to cover them")
        val updated = set.foldLeft(matching) { case (df, (c, e)) =>
          df.withColumn(c, expr(e))
        }.select(cur.columns.map(col).toSeq: _*) // single use: flows into the stage
        val vec = stage(keys, dir)
        val adds = stage(updated, dir)
        Claim(marker, vec.files.map("V " + _) ++ adds.files.map("+" + _),
          Seq(vec, adds), Some(keys))
      }
    }
  }

  /** MERGE INTO (upsert): rows of `source` whose `keyCols` match an
    * existing target row REPLACE it (whole-row update); unmatched source
    * rows INSERT. The at-scale property is FILE GRANULARITY: one semi-join
    * pass finds the visible files that contain a matched key, ONLY those
    * files are rewritten (matched rows dropped, all source rows appended),
    * and the commit is an `X` exchange — remove touched, add rewritten —
    * so a merge touching 1 of 10⁶ files moves one file's bytes, not
    * 100 TB ([[exchange]]). Conflict story follows compact/delete: the
    * exchange claims EXACTLY base+1 (CAS) and on losing re-derives the
    * touched set against the new snapshot (the touched-file list itself
    * is what a concurrent commit invalidates) — or aborts per
    * `isolation`, classed as `U <keyCols>` on every pass. With delete
    * vectors PENDING, a source key the vector covers would be suppressed
    * on read even after its re-insert — so merge falls back to one
    * validated replace-commit, which materializes the vectors and keeps
    * upsert semantics exact.
    * `source` must carry the target schema — unless `evolveSchema`:
    * then source columns ABSENT from the target widen the table (the
    * Delta autoMerge move: rewritten/new files carry the new column,
    * untouched files simply don't store it, and a `mergeSchema = true`
    * read reconciles by name — adding a column never rewrites 100 TB),
    * and target columns absent from the source fill NULL on inserted
    * rows. Returns the version won (current version unchanged for an
    * empty source). */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            keyCols: Seq[String],
            isolation: Isolation = Isolation.Rederive,
            evolveSchema: Boolean = false): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val src = source.localCheckpoint()
    if (src.isEmpty) return currentVersion(dir)
    val srcKeys = src.select(keyCols.map(col): _*).distinct().localCheckpoint()
    def upsert(target: DataFrame): DataFrame =
      target.join(srcKeys, keyCols, "left_anti")
        .unionByName(src, allowMissingColumns = evolveSchema)
    // the rewrite flows straight into the stage (no checkpoint — it feeds
    // only that write, so materializing it first would double the
    // scan+join work); with nothing touched it is the source itself
    exchange(spark, dir, isolation, "U " + keyCols.mkString(","), keyCols,
      Some(srcKeys), None, Nil)(
      _.join(srcKeys, keyCols, "left_semi"),
      slice => Some(slice.fold(src)(upsert)),
      upsert)
  }

  /** Conditional-action spec for [[mergeInto]] — the full MERGE grammar
    * reduced to its three clauses. Conditions and SET expressions
    * evaluate with the TARGET row's columns in scope directly and the
    * SOURCE row's columns as `src_<name>`:
    *   - `deleteWhen`:  WHEN MATCHED AND <cond> THEN DELETE
    *   - `updateSet`:   WHEN MATCHED [AND NOT deleted] THEN UPDATE SET —
    *     expressions apply SIMULTANEOUSLY against the pre-update row
    *     (standard SQL MERGE semantics; [[update]]'s sequential SETs are
    *     the documented contrast)
    *   - `insert`:      WHEN NOT MATCHED THEN INSERT (whole source row;
    *     the source must carry the target schema)
    * A matched row hit by neither delete nor update stays unchanged. */
  final case class MergeActions(deleteWhen: Option[String] = None,
                                updateSet: Option[Seq[(String, String)]] = None,
                                insert: Boolean = true)

  /** The FULLY-GENERAL merge grammar, Column-typed — what the SQL front
    * door ([[graft.plans.SqlDml]]) lowers a `MERGE INTO` statement to.
    * The full Delta-style clause surface: each of the three WHEN families
    * is an ORDERED clause list, and within a family a row takes the FIRST
    * clause whose condition passes (SQL MERGE's first-matching-clause-wins
    * — encoded here once, so every caller gets it by construction).
    *
    * Conditions and value expressions see the TARGET row's columns bare
    * and the SOURCE row's as `src_<name>` (the [[MergeActions]] scope):
    *   - `matched`: WHEN MATCHED [AND cond] THEN UPDATE SET sets /
    *     DELETE — `(cond, Some(sets))` is an UPDATE clause (SETs apply
    *     SIMULTANEOUSLY against the pre-update row), `(cond, None)` is a
    *     DELETE clause; `cond = None` means unconditional.
    *   - `notMatched`: WHEN NOT MATCHED [AND cond] THEN INSERT — each
    *     clause is `(cond, proj)`, one value per target column evaluated
    *     over `src_` columns; unprojected columns fill NULL.
    *   - `notMatchedBySource`: WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    *     UPDATE/DELETE — applies to TARGET rows with no source match;
    *     conditions and SETs see target columns only (the `src_` side is
    *     all-NULL there by construction, and the statement analyzer
    *     refuses source references in these clauses anyway). */
  private[graft] final case class MergeGrammar(
      matched: Seq[(Option[Column], Option[Seq[(String, Column)]])] = Nil,
      notMatched: Seq[(Option[Column], Seq[(String, Column)])] = Nil,
      notMatchedBySource: Seq[(Option[Column], Option[Seq[(String, Column)]])] = Nil)

  private def toGrammar(a: MergeActions, targetCols: Seq[String]): MergeGrammar =
    MergeGrammar(
      // delete clause FIRST: MergeActions documents updates as applying
      // to SURVIVING matched rows, which first-clause-wins encodes
      matched = a.deleteWhen.map(c => (Some(expr(c)), None)).toSeq ++
        a.updateSet.map(sets =>
          (None, Some(sets.map { case (c, e) => c -> expr(e) }))).toSeq,
      notMatched =
        if (a.insert) Seq((None, targetCols.map(c => c -> col(s"src_$c"))))
        else Nil)

  /** Apply a [[MergeGrammar]] to a target slice: left-join the prefixed
    * source, filter deletes, project simultaneous updates, union the
    * not-matched inserts. Shared by the file-granular path (target =
    * touched-file rows — they contain every matched key, so the insert
    * anti-join is exact) and the replace fallback (target = the table). */
  private def applyMergeGrammar(target: DataFrame, source: DataFrame,
                                keyCols: Seq[String], g: MergeGrammar): DataFrame = {
    // A source with duplicate keys would silently multiply matched target
    // rows through the left join (and insert both copies). SQL MERGE and
    // Delta raise on multiple source matches — so do we, loudly, before
    // any file is rewritten. Cost: one aggregation over the (delta-sized)
    // source, short-circuited at the first duplicate.
    val dup = source.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"MERGE source has duplicate keys (e.g. ${dup.headOption.fold("")(
        r => keyCols.zipWithIndex.map { case (k, i) => s"$k=${r.get(i)}" }.mkString(", "))}): " +
        "a target row may not match more than one source row")
    val cols = target.columns.toSeq
    val types = target.schema.map(f => f.name -> f.dataType).toMap
    def checkSets(sets: Seq[(String, Column)], what: String): Map[String, Column] = {
      val bySet = sets.toMap
      require(bySet.size == sets.size, s"$what assigns a column twice")
      require(bySet.keySet.subsetOf(cols.toSet),
        s"$what targets unknown columns: ${bySet.keySet -- cols}")
      bySet
    }
    val srcPref = source
      .select(source.columns.map(c => col(c).as(s"src_$c")) :+ lit(true).as("__m"): _*)
    val cond = keyCols.map(k => col(k) === col(s"src_$k")).reduce(_ && _)
    val joined = target.join(srcPref, cond, "left")

    // FIRST-CLAUSE-WINS gates: clause i fires when its own condition
    // passes under the family's scope AND no earlier clause fired. NULL
    // conditions don't fire (SQL boolean gate semantics).
    def gates(clauses: Seq[(Option[Column], Option[Seq[(String, Column)]])],
              scope: Column): Seq[Column] = {
      var prior: Column = lit(false)
      clauses.map { case (c, _) =>
        val own = scope && coalesce(c.getOrElse(lit(true)), lit(false))
        val fire = own && !prior
        prior = prior || own
        fire
      }
    }
    val rowClauses =
      g.matched.zip(gates(g.matched, col("__m").isNotNull)) ++
      g.notMatchedBySource.zip(gates(g.notMatchedBySource, col("__m").isNull))
    val deleted = rowClauses.collect { case ((_, None), fire) => fire }
      .reduceOption(_ || _).getOrElse(lit(false))
    val kept = joined.filter(!deleted)
    val updClauses = rowClauses.collect { case ((_, Some(sets)), fire) =>
      (checkSets(sets, "MERGE UPDATE SET"), fire)
    }
    val updated =
      if (updClauses.isEmpty) kept.select(cols.map(col): _*)
      else kept.select(cols.map { c =>
        // per column: CASE over the clauses that set it, in clause order
        // (gates are disjoint, so order here is cosmetic), ELSE unchanged
        val cases = updClauses.flatMap { case (bySet, fire) =>
          bySet.get(c).map(e => (fire, e))
        }
        if (cases.isEmpty) col(c)
        else cases.foldRight(col(c)) { case ((fire, e), els) =>
          when(fire, e.cast(types(c))).otherwise(els)
        }.as(c)
      }: _*)

    if (g.notMatched.isEmpty) updated
    else {
      g.notMatched.foreach { case (_, proj) =>
        val byCol = checkSets(proj, "MERGE INSERT projection")
        require(keyCols.forall(byCol.contains),
          s"insert projection must assign every merge key ($keyCols): a row " +
            "inserted without its key would be unreachable by later merges")
      }
      val anti = srcPref
        .join(target.select(keyCols.map(col): _*).distinct(), cond, "left_anti")
      val iGates = {
        var prior: Column = lit(false)
        g.notMatched.map { case (c, _) =>
          val own = coalesce(c.getOrElse(lit(true)), lit(false))
          val fire = own && !prior
          prior = prior || own
          fire
        }
      }
      val any = iGates.reduce(_ || _)
      // unassigned columns fill NULL (SQL INSERT semantics); every value
      // casts to the target column type, so the union never widens
      val inserts = anti.filter(any).select(cols.map { c =>
        iGates.zip(g.notMatched).foldRight(lit(null).cast(types(c))) {
          case ((fire, (_, proj)), els) =>
            when(fire, proj.toMap.get(c).map(_.cast(types(c)))
              .getOrElse(lit(null).cast(types(c)))).otherwise(els)
        }.as(c)
      }: _*)
      updated.unionByName(inserts)
    }
  }

  /** MERGE INTO with the FULL action grammar — [[merge]] is the
    * whole-row-upsert special case; this is the general statement
    * (Delta's `whenMatched.delete / whenMatched.updateExpr /
    * whenNotMatched.insertAll`). Same at-scale property: ONE semi-join
    * finds the files containing a matched key, only those files are
    * rewritten through [[applyMergeGrammar]], and the commit is an `X`
    * exchange — untouched files never move. Deletes that empty every
    * touched file commit an exchange with removes only (no adds).
    * Concurrency, pending-vector fallback, and isolation follow
    * [[merge]] exactly. Returns the version won (current version
    * unchanged for an empty source). */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                keyCols: Seq[String], actions: MergeActions,
                isolation: Isolation = Isolation.Rederive): Long = {
    require(actions.deleteWhen.nonEmpty || actions.updateSet.nonEmpty || actions.insert,
      "mergeInto with no actions is a no-op statement")
    val targetCols = read(spark, dir).columns.toSeq
    mergeGrammar(spark, dir, source, keyCols, toGrammar(actions, targetCols),
      isolation)
  }

  /** [[mergeInto]]'s engine, grammar-typed — also the landing point for
    * SQL `MERGE INTO` statements ([[graft.plans.SqlDml]]). Same at-scale
    * contract: one semi-join finds the touched files, only they rewrite,
    * `X` exchange, pending-vector replace fallback, CAS + isolation. */
  private[graft] def mergeGrammar(spark: SparkSession, dir: String,
                                  source: DataFrame, keyCols: Seq[String],
                                  grammar: MergeGrammar,
                                  isolation: Isolation = Isolation.Rederive,
                                  widenTo: Option[org.apache.spark.sql.types.StructType] = None,
                                  partitionBy: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(grammar.matched.nonEmpty || grammar.notMatched.nonEmpty ||
        grammar.notMatchedBySource.nonEmpty,
      "merge with no actions is a no-op statement")
    val src = source.localCheckpoint()
    // an empty source is a no-op — UNLESS by-source clauses exist: then
    // EVERY target row is not-matched-by-source and the clauses apply
    if (src.isEmpty && grammar.notMatchedBySource.isEmpty)
      return currentVersion(dir)
    val srcKeys = src.select(keyCols.map(col): _*).distinct().localCheckpoint()
    // a file is touched when it holds a MATCHED key — or, with by-source
    // clauses, a row with no source match passing any clause condition
    // (conditions there see target columns only, so they evaluate on the
    // bare scan). An unconditional by-source clause touches every file.
    val bySrcHit: Option[Column] =
      if (grammar.notMatchedBySource.isEmpty) None
      else Some(grammar.notMatchedBySource
        .map(_._1.map(c => coalesce(c, lit(false))).getOrElse(lit(true)))
        .reduce(_ || _))
    def merged(target: DataFrame): DataFrame =
      applyMergeGrammar(target, src, keyCols, grammar)
    exchange(spark, dir, isolation, "U " + keyCols.mkString(","), keyCols,
      Some(srcKeys), widenTo, partitionBy)(
      withFile => bySrcHit match {
        case None => withFile.join(srcKeys, keyCols, "left_semi")
        case Some(h) =>
          withFile.join(srcKeys.withColumn("__sm", lit(true)), keyCols, "left")
            .filter(col("__sm").isNotNull || h)
      },
      // nothing touched: the grammar runs over an empty target at the
      // table's schema (only its inserts can fire)
      slice => Some(merged(slice.getOrElse(widenSlice(
        read(spark, dir, mergeSchema = widenTo.nonEmpty).limit(0), widenTo)))),
      merged)
  }

  /** CONVERT IN PLACE (Delta's `CONVERT TO DELTA`): turn a directory of
    * EXISTING parquet files into a txn-log table by LISTING them into the
    * first manifest — zero bytes rewritten, which is the only viable
    * migration for 100 TB of historical parquet. Flat layout: every
    * `*.parquet` under `dir` (any nesting; `_`-prefixed artifacts like
    * `_SUCCESS` ignored) becomes a v1 entry. Hive layout (`partCols`
    * non-empty): the top-level `col=val` directories MOVE under `pdata/`
    * — one rename per partition directory, zero data bytes — because
    * that is the shared-basePath tree the catalog's partitioned commits
    * already use, so post-convert INSERTs, partition pruning and SHOW
    * PARTITIONS compose with the converted files as if the engine had
    * written them. Refuses an already-converted dir, an empty dir, a
    * flat convert over a hive tree (and vice versa). Returns v1. */
  def convertInPlace(dir: String, partCols: Seq[String] = Nil): Long = {
    require(!Files.exists(logDir(dir)),
      s"$dir is already a txnlog table (CONVERT is for plain parquet)")
    val root = Paths.get(dir)
    require(Files.isDirectory(root), s"no such directory: $dir")
    def walk(p: Path): Vector[Path] =
      listDir(p).toVector.flatMap { c =>
        val n = c.getFileName.toString
        if (n.startsWith("_") || n.startsWith(".")) Vector.empty
        else if (Files.isDirectory(c)) walk(c)
        else if (n.endsWith(".parquet")) Vector(c)
        else Vector.empty
      }
    if (partCols.isEmpty) {
      val leaves = walk(root)
      require(leaves.nonEmpty, s"no parquet files under $dir")
      val rels = leaves.map(p => root.relativize(p).toString)
      require(!rels.exists(_.split('/').exists(_.contains('='))),
        "directory carries hive col=val segments: convert with " +
          "PARTITIONED BY so the layout registers as partitioned")
      require(tryClaim(dir, 1, "A", rels), s"convert race lost on $dir")
      1L
    } else {
      val top = listDir(root).filter(Files.isDirectory(_))
        .filterNot(_.getFileName.toString.startsWith("_"))
      val hive = top.filter(_.getFileName.toString.contains('='))
      require(hive.nonEmpty,
        s"PARTITIONED BY ${partCols.mkString(",")} needs top-level " +
          "col=val directories")
      require(hive.forall(
        _.getFileName.toString.startsWith(partCols.head + "=")),
        s"top-level directories must partition by ${partCols.head}")
      val pdata = root.resolve("pdata")
      // compute the POST-move relative paths from the pre-move tree and
      // claim the manifest BEFORE any rename: if the claim loses a race
      // the source tree is untouched, and a rename failure mid-way rolls
      // back both the completed moves and the claimed log — "zero
      // rewrite" migration must never strand a half-mutated tree
      val rels = hive.flatMap(d =>
        walk(d).map(p => s"pdata/${root.relativize(p)}"))
      require(rels.nonEmpty, s"no parquet files under $dir's partitions")
      require(tryClaim(dir, 1, "A", rels), s"convert race lost on $dir")
      val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
      try {
        Files.createDirectories(pdata)
        hive.foreach { d =>
          Files.move(d, pdata.resolve(d.getFileName),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          moved += d
        }
      } catch {
        case e: Throwable =>
          moved.foreach { d => // undo in reverse: restore the source tree
            Files.move(pdata.resolve(d.getFileName), d,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          Files.deleteIfExists(pdata)
          graft.io.FsUtil.deleteRecursively(logDir(dir).toFile) // our claim
          throw e
      }
      1L
    }
  }

  /** RESTORE: roll the table back to `toVersion` AS A NEW COMMIT — the
    * undo operation (bad ingest, fat-fingered delete) that keeps history
    * linear: nothing is erased, the restored state simply becomes the
    * newest version (Delta RESTORE). When the target snapshot carries no
    * pending vectors this is METADATA-ONLY: one `R` manifest re-listing
    * the target's files (they still exist — vacuum permitting), zero
    * bytes moved even at 100 TB. With vectors pending at the target the
    * restore MATERIALIZES them (one validated replace-commit of the
    * target's read — the rowset is exact either way). Refuses targets
    * below the vacuum watermark (their files are gone) and above the
    * head. Returns the version won. */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    require(toVersion >= minVersion(dir),
      s"version $toVersion was vacuumed (oldest retained: ${minVersion(dir)})")
    require(toVersion <= currentVersion(dir),
      s"version $toVersion does not exist (current: ${currentVersion(dir)})")
    val target = snapshotAt(dir, toVersion)
    if (target.dvs.isEmpty && target.scoped.isEmpty &&
        target.renames.isEmpty && target.drops.isEmpty) {
      // R-commit re-listing the target's files: restore commutes with
      // nothing (it REPLACES), so any slot is as correct as base+1 — the
      // restored content is version-pinned, not snapshot-derived
      claimNext(dir, "R", target.files)
    } else {
      val frozen = read(spark, dir, Some(toVersion)).localCheckpoint()
      replaceCommitValidated(spark, dir)(_ => frozen)
    }
  }

  /** SHALLOW CLONE: create table `dstDir` whose initial version references
    * `srcDir`'s CURRENT snapshot by absolute path (`@`-prefixed manifest
    * lines) — a 100 TB table clones in one metadata write, zero bytes
    * copied. Pending delete vectors carry over as `D` commits referencing
    * the source's vector files, so the clone's read equals the source's
    * read at clone time. Afterward the two tables diverge independently:
    * appends/vectors on either side are invisible to the other, and a
    * clone-side `compact` LOCALIZES the data (rewrites external refs into
    * clone-owned files), after which the clone no longer depends on the
    * source. Contract (shared with real formats' shallow clones): until
    * localized, a source-side `vacuum` that reclaims files the clone still
    * references breaks the clone — retention policy must cover live
    * clones. `dstDir` must be empty (no prior log). `asOf` pins the
    * source SNAPSHOT VERSION the clone references (`SHALLOW CLONE ...
    * VERSION AS OF n` — fork the table as it stood BEFORE a bad write,
    * without restoring the source): validated against the vacuum
    * watermark exactly like a versioned read, since the referenced files
    * must still exist. Returns the clone's current version. */
  def clone(spark: SparkSession, srcDir: String, dstDir: String,
            asOf: Option[Long] = None): Long = {
    require(!Files.exists(logDir(dstDir)),
      s"clone destination $dstDir is already a txnlog table")
    asOf.foreach { v =>
      require(v >= minVersion(srcDir),
        s"clone source version $v was vacuumed (oldest retained: ${minVersion(srcDir)})")
      require(v <= currentVersion(srcDir),
        s"clone source version $v does not exist (current: ${currentVersion(srcDir)})")
    }
    val srcAbs = Paths.get(srcDir).toAbsolutePath.toString
    val snap = snapshotAt(srcDir, asOf.getOrElse(Long.MaxValue))
    require(snap.files.nonEmpty, "clone of an empty table")
    require(snap.scoped.isEmpty,
      "clone with pending update vectors: their file-set scope cannot " +
        "transplant — compact the source first")
    require(snap.renames.isEmpty && snap.drops.isEmpty,
      "clone of a column-mapped table: the mapping's file scopes cannot " +
        "transplant — compact the source first (materializes the mapping)")
    def ext(rel: String): String =
      if (rel.startsWith("@")) rel else s"@$srcAbs/$rel" // already-external refs pass through
    val v = claimNext(dstDir, "A", snap.files.map(ext))
    // carry the source's zone maps for the referenced files (keyed by the
    // external ref, which is how the clone's scanPruned will look them up)
    // — cloning preserves PLANNING metadata, not just data visibility
    val visible = snap.files.toSet
    val carried = statsTwoLevel(srcDir).collect {
      case (rel, c, mn, mx) if visible(rel) => s"${ext(rel)}\t$c\t$mn\t$mx"
    }.distinct
    if (carried.nonEmpty) writeZoneStats(dstDir, v, carried)
    snap.dvs.foreach { case (dvFiles, keyCols, _) => // renames empty → offset 0
      claimNext(dstDir, "D " + keyCols.mkString(","), dvFiles.map(ext))
    }
    currentVersion(dstDir)
  }

  /** Version that committed writer txn (`writerId`, `batchId`), if any —
    * the Delta `txn`-action lookup that makes streaming sinks exactly-once
    * across restarts. Metadata-only (manifest markers). */
  def txnVersion(dir: String, writerId: String, batchId: Long): Option[Long] =
    manifests(dir).collectFirst {
      case (v, p) if parseManifest(p)._1 == s"T $writerId $batchId" => v
    }

  /** IDEMPOTENT APPEND for streaming sinks: commit `df` tagged with
    * (`writerId`, `batchId`); if that txn already committed — a replayed
    * micro-batch after a driver restart — return its version WITHOUT
    * writing, so foreachBatch + this = exactly-once table delivery on top
    * of the source's replayed at-least-once. The check-then-commit pair is
    * race-free under Structured Streaming's contract (one driver runs a
    * given writerId's batches serially; a batchId never executes
    * concurrently with itself). `writerId` is space-free (marker syntax). */
  def commitIdempotent(df: DataFrame, dir: String, writerId: String,
                       batchId: Long): Long = {
    require(writerId.nonEmpty && !writerId.contains(" ") && !writerId.contains("\n"),
      s"writerId must be a space-free token: '$writerId'")
    txnVersion(dir, writerId, batchId).getOrElse(
      appendData(df, dir, s"T $writerId $batchId")._1)
  }

  /** Append already-written relative file paths as the next version — the
    * batch-write commit for executor-side writers (no replay identity, so
    * no txn marker; the claim loop takes any free slot like any append). */
  def commitFiles(dir: String, relFiles: Seq[String]): Long =
    claimNext(dir, "A", relFiles.sorted)

  /** File-granular sibling of [[commitIdempotent]] for writers that
    * produced their data files THEMSELVES (the DSv2 streaming sink's
    * executor-side parquet writers): registers already-written relative
    * paths under the same `T writerId batchId` exactly-once marker. A
    * replayed epoch returns the committed version without registering
    * anything — the replay's freshly-staged files stay orphans (invisible
    * to every reader; vacuum reclaims them), which is exactly the
    * add-file/txn-action discipline Delta sinks use. An empty epoch
    * commits a marker with no files, so the txn lookup still dedupes it. */
  def commitFilesIdempotent(dir: String, writerId: String, batchId: Long,
                            relFiles: Seq[String]): Long = {
    require(writerId.nonEmpty && !writerId.contains(" ") && !writerId.contains("\n"),
      s"writerId must be a space-free token: '$writerId'")
    txnVersion(dir, writerId, batchId).getOrElse(
      claimNext(dir, s"T $writerId $batchId", relFiles.sorted))
  }

  /** DESCRIBE HISTORY: one row per committed version — (version, action,
    * n_files) parsed from the manifest chain (action `D` = delete vector;
    * `X` = exchange, whose n_files counts body lines: removes + adds).
    * Metadata-only (no data file is opened), so it works on vacuumed
    * prefixes too. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val ld = logDir(dir)
    require(Files.exists(ld), s"not a txnlog table (no ${ld})")
    val rows = manifests(dir).map { case (v, p) =>
      val (m, body) = parseManifest(p)
      val action =
        if (m.startsWith("D ")) "D" else if (m.startsWith("T ")) "T"
        else if (m.startsWith("U ")) "U" else if (m.startsWith("M ")) "M"
        else if (m.startsWith("R")) "R" else if (m.startsWith("X")) "X" else m
      (v, action, body.length.toLong)
    }
    import spark.implicits._
    rows.toSeq.toDF("version", "action", "n_files")
  }

  /** CHANGE DATA FEED: the row-level changes each version in
    * (`fromExclusive`, `to`] introduced, as table rows plus
    * `_change_type` ('insert' | 'delete'; an update appears as its
    * delete+insert pair) and `_commit_version`. Per-action derivation —
    * and its cost — follows the manifest, never a full-history diff:
    *
    *  - `A`: the added files' rows, anti-joined against the delete
    *    vectors pending AT that version (a vector suppresses matching
    *    late appends, so a suppressed row never counts as an insert) —
    *    file-bounded.
    *  - `D`: the vector deletes exactly the rows visible at v−1 that
    *    match its keys — one semi-join against the metadata-sized vector.
    *  - `X` (merge): deletes = removed-files rows EXCEPT ALL added-files
    *    rows; inserts = the reverse — bounded by the exchanged files,
    *    which is what makes CDF over merges cheap at 100 TB.
    *  - `R` (compact/CoW delete): the generic snapshot diff
    *    read(v) EXCEPT ALL read(v−1) (and reverse) — the one expensive
    *    path, exactly the case real formats also cannot derive without
    *    explicit CDC files; a pure compaction yields zero rows.
    *
    * The fold identity — read(v) ≡ read(v−1) + inserts(v) − deletes(v)
    * as multisets — holds at every step. Constant schema across the
    * requested range is assumed (the table contract here). */
  def changes(spark: SparkSession, dir: String, fromExclusive: Long,
              to: Long): DataFrame = {
    require(fromExclusive >= 0 && to > fromExclusive, s"bad range ($fromExclusive, $to]")
    require(to <= currentVersion(dir),
      s"version $to does not exist (current: ${currentVersion(dir)})")
    // the per-action derivations below read files RAW; an
    // UN-MATERIALIZED column mapping at any DERIVED version in the
    // range would shift row shape under them — the existing
    // constant-schema contract, now enforced loudly. A mapping a later
    // rewrite already materialized is fine: those versions' snapshots
    // carry no actions (the `R` itself diffs through read(), which is
    // mapping-aware, so only (fromExclusive, to] needs the check).
    ((fromExclusive + 1L) to to).foreach { v =>
      val sn = snapshotAt(dir, v)
      require(sn.renames.isEmpty && sn.drops.isEmpty,
        s"change feed range touches version $v with an un-materialized " +
          "column mapping: compact first (materializes renames/drops)")
    }
    val ms = manifests(dir).filter { case (v, _) => v > fromExclusive && v <= to }
    def tagged(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
    // ONE-PASS multiset diff (r18, guide §2.4): Catalyst rewrites each
    // exceptAll into its own sign-aggregation over a union of both sides
    // (RewriteExceptAll), so deriving inserts AND deletes via two exceptAll
    // calls scans and aggregates the same two relations twice. One explicit
    // sign-aggregation computes both directions in a single exchange;
    // sequence+explode replication reproduces exceptAll's multiset
    // semantics exactly (same NULL/NaN-safe grouping equality Spark's own
    // rewrite uses). Measured r18: q313 feed derivation per X action halves.
    def taggedDiff(after: DataFrame, before: DataFrame, v: Long): DataFrame = {
      val cols = after.columns.toSeq
      val sgn = "__graft_diff_sign"
      after.withColumn(sgn, lit(1L))
        .unionByName(before.withColumn(sgn, lit(-1L)))
        .groupBy(cols.map(col): _*).agg(sum(col(sgn)).as(sgn))
        .filter(col(sgn) =!= 0L)
        .select((cols.map(col) :+
          when(col(sgn) > 0, lit("insert")).otherwise(lit("delete"))
            .as("_change_type") :+
          explode(sequence(lit(1L), abs(col(sgn)))).as("__graft_diff_i")): _*)
        .drop("__graft_diff_i")
        .withColumn("_commit_version", lit(v))
    }
    val parts = ms.flatMap { case (v, p) =>
      val (m, body) = parseManifest(p)
      def readRel(rels: Seq[String]): DataFrame =
        spark.read.parquet(rels.map(resolve(dir, _)): _*)
      m match {
        case a if a == "A" || a.startsWith("T ") =>
          val pendingDvs = snapshotAt(dir, v).dvs
          Seq(tagged(applyDvs(spark, dir, readRel(body), pendingDvs), "insert", v))
        case "X" =>
          val removes = body.collect { case l if l.startsWith("-") => l.drop(1) }
          val adds = body.collect { case l if l.startsWith("+") => l.drop(1) }
          val pendingDvs = snapshotAt(dir, v).dvs
          def side(rels: Vector[String]) =
            if (rels.isEmpty) None
            else Some(applyDvs(spark, dir, readRel(rels), pendingDvs))
          (side(removes), side(adds)) match {
            case (Some(r), Some(a)) => Seq(taggedDiff(a, r, v))
            case (Some(r), None) => Seq(tagged(r, "delete", v))
            case (None, Some(a)) => Seq(tagged(a, "insert", v))
            case _ => Seq.empty
          }
        case "R noop" | "X noop" => Seq.empty // compaction: identity BY RECORD
        case "R" =>
          val cur = read(spark, dir, Some(v))
          val prev = read(spark, dir, Some(v - 1))
          Seq(taggedDiff(cur, prev, v))
        case d if d.startsWith("D ") =>
          val keyCols = d.stripPrefix("D ").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          Seq(tagged(read(spark, dir, Some(v - 1))
            .join(readRel(body), keyCols, "left_semi"), "delete", v))
        case u if u.startsWith("U ") => // update = its delete+insert pair
          val keyCols = u.stripPrefix("U ").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val vecs = body.collect { case l if l.startsWith("V ") => l.drop(2) }
          val adds = body.collect { case l if l.startsWith("+") => l.drop(1) }
          val pendingDvs = snapshotAt(dir, v).dvs
          Seq(
            tagged(read(spark, dir, Some(v - 1))
              .join(readRel(vecs), keyCols, "left_semi"), "delete", v),
            tagged(applyDvs(spark, dir, readRel(adds), pendingDvs), "insert", v))
        case _ => Seq.empty
      }
    }
    require(ms.nonEmpty, s"no committed version in ($fromExclusive, $to]")
    if (parts.isEmpty) // the range holds only change-free commits (R noop)
      tagged(read(spark, dir, Some(to)).limit(0), "insert", to)
    else parts.reduce(_.unionByName(_))
  }

  // ------------------------------------------------------------------
  // CHECK constraints: declarative row predicates enforced AT COMMIT
  // TIME (the Delta `ALTER TABLE ADD CONSTRAINT` slot). Constraints are
  // table metadata (`_txnlog/constraints`, name<TAB>expr lines, written
  // atomically); every constrained append validates BEFORE any manifest
  // claims a version, so a violating batch never becomes visible — the
  // governance gate a 100 TB ingest needs in the WRITER, where one scan
  // of the new batch is metadata-cheap, instead of in readers where the
  // damage is already table-wide. Validation cost: one aggregate over
  // the incoming batch only (never the table).
  // ------------------------------------------------------------------

  private def constraintsPath(dir: String): Path =
    logDir(dir).resolve("constraints")

  /** Register a CHECK constraint (SQL boolean expression over the
    * table's columns). Takes effect for every subsequent
    * [[commitChecked]]; existing data is NOT re-validated (the Delta
    * semantics — add constraints before data, or audit separately).
    * Schema administration is SINGLE-WRITER by contract (the vacuum
    * precedent): concurrent addConstraint calls are read-modify-write
    * races on one metadata file. */
  def addConstraint(dir: String, name: String, expr: String): Unit = {
    require(name.nonEmpty && !name.contains("\t") && !name.contains("\n"),
      s"bad constraint name '$name'")
    require(!expr.contains("\n"), "constraint expression must be one line")
    Files.createDirectories(logDir(dir))
    val prior = constraints(dir)
    require(!prior.exists(_._1 == name), s"constraint '$name' already exists")
    val lines = (prior :+ ((name, expr))).map { case (n, e) => s"$n\t$e" }
    writeMetaFile(constraintsPath(dir), lines.mkString("", "\n", "\n"))
  }

  /** The registered (name, expression) constraints, declaration order. */
  def constraints(dir: String): Vector[(String, String)] = {
    val p = constraintsPath(dir)
    if (!Files.exists(p)) Vector.empty
    else new String(Files.readAllBytes(p), "UTF-8").split("\n")
      .filter(_.nonEmpty).toVector.flatMap { l =>
        l.split("\t", 2) match {
          case Array(n, e) => Some((n, e))
          case _           => None
        }
      }
  }

  /** Violation of a named constraint, carried in the refusal. */
  final class ConstraintViolation(val constraint: String, val expr: String,
                                  val violations: Long)
      extends IllegalArgumentException(
        s"CHECK constraint '$constraint' ($expr) violated by $violations row(s); commit refused")

  /** Append-commit with CHECK validation: one aggregate pass over the
    * incoming batch counts violations of every registered constraint
    * (null predicate results count as violations — a CHECK must prove
    * true); the first violated constraint refuses the whole commit
    * before any data file or manifest lands. */
  def commitChecked(df0: DataFrame, dir: String): Long = {
    // pin the batch FIRST: validating one execution of the plan and
    // committing another would let a non-stable source (live directory,
    // rand()) land rows the check never saw
    val df = df0.localCheckpoint()
    val cs = constraints(dir)
    if (cs.nonEmpty) {
      val aggs = cs.map { case (n, e) =>
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.coalesce(
              expr(e).cast("boolean"), lit(false)), 0L).otherwise(1L)).as(n)
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      cs.zipWithIndex.foreach { case ((n, e), i) =>
        val bad = if (row.isNullAt(i)) 0L else row.getLong(i) // empty batch = clean
        if (bad > 0) throw new ConstraintViolation(n, e, bad)
      }
    }
    commit(df, dir)
  }

  /** Absolute paths of the data files APPEND commits (`A`/`T`) in
    * (`fromExclusive`, `to`] added — the planning primitive behind
    * [[graft.sources.TxnStreamSource]]'s version-ranged micro-batches.
    * Record-identity maintenance commits (`R noop`/`X noop`) contribute
    * nothing and are always skipped; any other non-append commit
    * (replace, exchange, delete vector) makes the range unstreamable and
    * fails LOUDLY unless `ignoreChanges` (then it is skipped — the
    * reader accepts append-only-view semantics). Metadata-only. */
  def addedFilesBetween(dir: String, fromExclusive: Long, to: Long,
                        ignoreChanges: Boolean = false): Vector[String] =
    manifests(dir).filter { case (v, _) => v > fromExclusive && v <= to }
      .toVector.flatMap { case (v, p) =>
        val (m, body) = parseManifest(p)
        m match {
          case a if a == "A" || a.startsWith("T ") => body.map(resolve(dir, _))
          case "R noop" | "X noop" => Vector.empty
          case other =>
            require(ignoreChanges,
              s"version $v is not an append (marker '$other'): streaming needs " +
                "append-only history; set ignoreChanges=true to skip such commits")
            Vector.empty
        }
      }

  // ------------------------------------------------------------------
  // STREAMING CHANGE FEED (the DSv2 CDF source's planner half): change
  // rows served file-based so executor-side readers never run a
  // derivation. Appends are served from their own data files (Delta's
  // add-file fast path); every other action's rows are MATERIALIZED
  // once under `_txnlog/_cdf/v<N>/` — computed by [[changes]] on the
  // driver at plan time, published by atomic rename, immutable after
  // (manifests are immutable, so the derivation is deterministic and a
  // checkpoint replay re-reads identical files). A 100 TB deployment
  // would write these AT COMMIT TIME from the mutating operator's own
  // row sets (it already holds them); the lazy cache keeps the protocol
  // identical without instrumenting every writer.
  // ------------------------------------------------------------------

  private def cdfRoot(dir: String): Path = logDir(dir).resolve("_cdf")
  private def cdfVDir(dir: String, v: Long): Path = cdfRoot(dir).resolve(f"v$v%05d")

  private def parquetLeaves(p: Path): Vector[String] =
    listDir(p).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).sorted.toVector

  /** Materialize version `v`'s change rows ([[changes]] over (v-1, v]) as
    * parquet under the log dir — idempotent: the directory is staged and
    * atomically renamed into place, a racing second materializer loses
    * the rename and reads the winner's files. Returns the absolute
    * change-file paths (columns: table schema + `_change_type`,
    * `_commit_version`). */
  def materializeChanges(spark: SparkSession, dir: String, v: Long): Vector[String] = {
    val tgt = cdfVDir(dir, v)
    if (!Files.isDirectory(tgt)) {
      Files.createDirectories(cdfRoot(dir))
      val tmp = Files.createTempDirectory(cdfRoot(dir), s".tmp-v$v-")
      val staged = tmp.resolve("data")
      changes(spark, dir, v - 1, v).coalesce(1)
        .write.mode("overwrite").parquet(staged.toString)
      try Files.move(staged, tgt, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => () // lost the race
        case _: java.nio.file.DirectoryNotEmptyException => ()
      } finally {
        def rm(f: java.io.File): Unit = FsUtil.deleteRecursively(f)
        rm(tmp.toFile)
      }
    }
    parquetLeaves(tgt)
  }

  /** Per-version feed plan for the streaming CDF source over
    * (fromExclusive, to]: `(version, changeTypeTag, files)` where a
    * non-empty tag means the files are raw APPEND data files whose every
    * row is one change of that type (the reader synthesizes the meta
    * columns), and an empty tag means materialized change files that
    * carry `_change_type`/`_commit_version` themselves. Append versions
    * with a pending global delete vector take the materialized path too
    * — a global vector suppresses matching keys in FUTURE files, so the
    * raw file would over-deliver. Record-identity maintenance commits
    * (`R noop`/`X noop`) are skipped by metadata alone. */
  def changeFeedPlan(spark: SparkSession, dir: String, fromExclusive: Long,
                     to: Long): Vector[(Long, String, Vector[String])] =
    manifests(dir).filter { case (v, _) => v > fromExclusive && v <= to }
      .toVector.flatMap { case (v, p) =>
        val (m, body) = parseManifest(p)
        m match {
          case "R noop" | "X noop" => Vector.empty
          case a if (a == "A" || a.startsWith("T ")) && snapshotAt(dir, v).dvs.isEmpty =>
            if (body.isEmpty) Vector.empty // empty idempotent epoch
            else Vector((v, "insert", body.map(resolve(dir, _))))
          case _ =>
            Vector((v, "", materializeChanges(spark, dir, v)))
        }
      }

  /** Vacuum: delete data files no retained version references, advancing
    * the min-version watermark so vacuumed as-of reads fail LOUDLY at
    * planning time rather than mid-scan on a missing file. Retains the
    * newest `retainVersions` versions' visible sets — data files AND
    * delete-vector files (manifests — metadata — are kept forever; only
    * data files are reclaimed). After an A-only chain this is a no-op
    * (every file is still referenced); after a replace-commit it reclaims
    * the pre-compaction files. Single-writer maintenance op by contract,
    * and with `graceMillis = 0` it must NOT run concurrently with an
    * in-flight commit: EVERY write path lands data files before its
    * manifest (ordinary commits under `part-<uuid>`, the DSv2 sink under
    * `txnsink-*`, and — the widest window — `commitPartitionedShared`
    * moves files into the shared `pdata` tree BEFORE its claim), so a
    * racing vacuum would reclaim in-flight staging as orphans and the
    * claim would then commit a manifest referencing deleted files.
    * `graceMillis > 0` closes that window the way real formats do
    * (Delta's tombstone-retention pattern): unreferenced files YOUNGER
    * than the horizon are presumed in-flight staging and skipped — they
    * become reclaimable on the next vacuum after they age past the grace.
    * Size the grace above the longest plausible stage→claim gap (minutes
    * dwarfs it). Returns the deleted relative paths. */
  def vacuum(dir: String, retainVersions: Int = 1,
             graceMillis: Long = 0L): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the current version")
    val cur = currentVersion(dir)
    require(cur > 0, "nothing committed")
    val newMin = math.max(minVersion(dir), cur - retainVersions + 1)
    val keep = (newMin to cur).flatMap { v =>
      val s = snapshotAt(dir, v)
      s.files ++ s.dvs.flatMap(_._1) ++ s.scoped.flatMap(_._1)
    }.toSet
    val partDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory &&
        // ordinary commits stage under part-<uuid>; the DSv2 sink stages
        // under txnsink-e<epoch>/-b<uuid> — replayed-epoch and failed-task
        // orphans live there and are exactly vacuum's jurisdiction; the
        // shared hive tree (catalog partitioned writes) lives under pdata
        (f.getName.startsWith("part-") || f.getName.startsWith("txnsink-") ||
          f.getName == "pdata"))
    // recursive: partitioned commits nest their parquet under col=val dirs;
    // the age filter is the in-flight-staging guard (doc above)
    val horizon = System.currentTimeMillis() - graceMillis
    val victims = partDirs.flatMap(pd =>
      walkParquet(dir, pd.getName).filterNot(keep.contains))
      .filter(rel => graceMillis <= 0L ||
        Files.getLastModifiedTime(Paths.get(dir, rel)).toMillis <= horizon)
      .toSeq
    // watermark FIRST: a reader that races the deletes already sees the
    // new floor and refuses vacuumed versions
    writeMetaFile(logDir(dir).resolve("min-version"), newMin.toString + "\n")
    victims.foreach(rel => Files.deleteIfExists(Paths.get(dir, rel)))
    // drop commit dirs (and nested partition dirs) that hold no data now
    def pruneEmpty(f: java.io.File): Boolean = { // true = subtree removed
      val cs = Option(f.listFiles()).map(_.toVector).getOrElse(Vector.empty)
      val gone = cs.forall { c =>
        if (c.isDirectory) pruneEmpty(c)
        else if (c.getName.startsWith("_") || c.getName.startsWith("."))
          c.delete()
        else false
      }
      if (gone) f.delete() else false
    }
    partDirs.foreach(pruneEmpty(_): Unit)
    // SIDECAR ARCHIVAL (two-level metadata lifecycle): stats/bloom
    // sidecars at or below the newest checkpoint are served from its
    // Z/B lines for all latest-snapshot planning, so vacuum reclaims
    // them with the data files. Known edge, sound by construction: a
    // RESTORE can resurface a file whose only stats lived below the
    // checkpoint — it simply plans unpruned afterward (missing metadata
    // costs performance, never rows).
    val archived = checkpointVersions(dir).lastOption.toSeq.flatMap { cv =>
      manifests(dir).filter(_._1 <= cv).toSeq.flatMap { case (v, _) =>
        Seq(statsPath(dir, v), bloomPath(dir, v)).filter(Files.exists(_)).map { p =>
          val name = s"_txnlog/${p.getFileName}"
          Files.deleteIfExists(p)
          name
        }
      }
    }
    victims ++ archived
  }
}
