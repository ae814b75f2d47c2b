package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Persisted incremental-dedup sidecar: the bounded paragraph-hash
  * Bloom plus the exact (h1, h2) hash index of a kept corpus snapshot.
  *
  * A production every-snapshot pipeline (the CCNet shape) must not
  * rescan the old corpus per batch. This store writes, next to nothing
  * (16 bytes per distinct paragraph + a capped Bloom), everything the
  * next batch needs:
  *  - `bloom.bin` — [[Dedup.boundedBloom]] bytes, loaded driver-side
  *    with zero Spark jobs;
  *  - `hashes/` — parquet of distinct (h1, h2), the exact-verify side,
  *    so the verify join reads the hash index, never the corpus text.
  *
  * The sidecar key hashes the corpus path + length + mtime + a format
  * version, so a corpus change is a clean cache miss, never a stale
  * hit. Writes drop a `_COMPLETE` marker last: a crashed writer leaves
  * an invisible (retried) entry, and concurrent writers are idempotent
  * (same key ⇒ same content). Location: `spark.graft.dedup.indexDir`,
  * defaulting to a per-user temp dir — production points it at the
  * object store next to the corpus.
  */
object DedupIndex {

  // v2: the persisted second paragraph hash became the independent
  // seed-1 fold xxhash64(lit(1L), para) — the old chained form was a
  // pure function of h1; bumping the version makes pre-change sidecars
  // a clean miss instead of a silent probe mismatch
  // v3: the char-folding kernels (polyHash/shingleHashes/…) switched
  // from UTF-16-unit to code-point folding (round 15) — persisted
  // shingle/band hashes built by v2 code differ on non-BMP text, so
  // pre-change sidecars must miss cleanly
  val FormatVersion = 3

  def indexDir(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.dedup.indexDir").getOrElse(
      sys.props("java.io.tmpdir") + "/graft_dedup_index_" +
        sys.props.getOrElse("user.name", "anon"))

  /** Cache key for one corpus snapshot + operator variant: the MD5 of
    * `FormatVersion|variant|corpusPath|length|mtime`, with length and
    * mtime from [[graft.SnapshotMemo.token]]. It names on-disk
    * sidecars, so this string must not change. Filesystem metadata
    * only — no Spark job. */
  def snapshotKey(spark: SparkSession, corpusPath: String,
                  variant: String): String = {
    val (len, mtime) = graft.SnapshotMemo.token(spark, corpusPath)
      .getOrElse(throw new java.io.FileNotFoundException(corpusPath))
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = s"$FormatVersion|$variant|$corpusPath|$len|$mtime"
    md.digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def base(spark: SparkSession, key: String) =
    new Path(indexDir(spark), key)

  /** Load a complete sidecar: the Bloom (driver bytes, zero jobs) and
    * the lazy hash-index DataFrame. None if absent or incomplete. */
  def load(spark: SparkSession, key: String)
      : Option[(BloomFilter, DataFrame)] = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(b, "_COMPLETE"))) None
    else {
      val in = fs.open(new Path(b, "bloom.bin"))
      val bloom = try BloomFilter.readFrom(in) finally in.close()
      // explicit schema: no inference job — loading must stay job-free
      Some((bloom, spark.read.schema("h1 BIGINT, h2 BIGINT")
        .parquet(new Path(b, "hashes").toString)))
    }
  }

  /** Write bloom + hash index — staged + renamed like every other
    * sidecar write ([[publishStagedBase]]): two concurrent FIRST
    * queries over a fresh snapshot both build, but each stages
    * privately and one rename wins, so a reader can never observe one
    * writer's `overwrite` interleaved with the other's `_COMPLETE`
    * (the round-16 residual: direct writes into the published dir let
    * writer B delete writer A's part files mid-write while A's marker
    * was already visible). */
  def save(spark: SparkSession, key: String, bloom: BloomFilter,
           hashes: DataFrame): Unit =
    publishStagedBase(spark, key) { (fs, tmp) =>
      hashes.write.mode("overwrite").parquet(new Path(tmp, "hashes").toString)
      val out = fs.create(new Path(tmp, "bloom.bin"), true)
      try bloom.writeTo(out) finally out.close()
    }

  /** Load a complete NEAR-dup sidecar: the lazy MinHash band-row index
    * (id, band, key) and the per-doc distinct shingle-hash table
    * (id, s) — both read job-free with explicit schemas, as the UNION
    * of the base segment and every complete appended segment
    * ([[appendNearDup]] — the fold-in path of the every-snapshot
    * loop). A segment missing its own `_COMPLETE` marker (a crashed
    * appender) is invisible. None if the base is absent/incomplete. */
  def loadNearDup(spark: SparkSession, key: String,
                  excludeSegments: Set[String] = Set.empty)
      : Option[(DataFrame, DataFrame)] = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(b, "_COMPLETE"))) None
    else {
      val roots = chainRoots(fs, b, excludeSegments)
      Some((
        spark.read.schema("id BIGINT, band INT, key BIGINT")
          .parquet(roots.map(r => new Path(r, "bands").toString): _*),
        spark.read.schema("id BIGINT, s BIGINT")
          .parquet(roots.map(r => new Path(r, "shingles").toString): _*)))
    }
  }

  /** The effective read roots of a near-dup sidecar: the newest
    * usable compaction generation (or the original base), plus every
    * complete segment it does not cover. Driver-side listing only —
    * loading stays job-free.
    *
    * excludeSegments: a batch RETRY must not candidate against its
    * own prior segment (it would report every prior survivor as a
    * near-dup of itself and then fold in nothing) — so a compaction
    * generation that already FOLDED an excluded segment is unusable
    * for that reader and selection falls back to an older generation
    * (ultimately the never-deleted base). In the single-orchestrator
    * batch contract this cannot happen (compaction runs between
    * batches, a batch only excludes its own id), but the fallback
    * makes the retry semantics hold even if it does. */
  private def chainRoots(fs: org.apache.hadoop.fs.FileSystem, b: Path,
                         excludeSegments: Set[String]): Seq[Path] = {
    val entries = fs.listStatus(b).toSeq.filter(_.isDirectory)
    def complete(p: Path): Boolean = fs.exists(new Path(p, "_COMPLETE"))
    val segs = entries
      .filter(st => st.getPath.getName.startsWith("seg-") &&
        complete(st.getPath))
      .map(_.getPath).sortBy(_.getName)
    val compacts = entries
      .filter(st => st.getPath.getName.startsWith("compact-") &&
        complete(st.getPath))
      .map(_.getPath)
      .sortBy(_.getName)(Ordering[String].reverse) // newest gen first
    val chosen = compacts.iterator
      .map(p => (p, readCovered(fs, p)))
      .find { case (_, covered) =>
        covered.intersect(excludeSegments).isEmpty }
    // The fallback only reconstructs the excluded reader's view if the
    // segments the SKIPPED (newer) generations folded still exist on
    // disk — a generation published with pruneCovered=true deleted
    // them. A silently incomplete chain would re-report previously-
    // indexed duplicates as novel, so fail loudly instead: retries
    // that exclude a folded segment and pruning are mutually exclusive
    // by contract (prune only after the retry window — see
    // [[pruneSuperseded]]'s lease).
    val segNames = segs.map(_.getName.stripPrefix("seg-")).toSet
    def requireUnprunedFallback(skipped: Seq[Path],
                                chosenCovered: Set[String]): Unit =
      skipped.foreach { gen =>
        val missing = readCovered(fs, gen) -- chosenCovered --
          excludeSegments -- segNames
        if (missing.nonEmpty) throw new IllegalStateException(
          s"chain fallback past ${gen.getName} at $b is incomplete: " +
            s"covered segments ${missing.toSeq.sorted.mkString(",")} " +
            "were pruned — a retry excluding a folded segment cannot " +
            "run after pruneCovered/pruneSuperseded deleted its siblings")
      }
    chosen match {
      case Some((cp, covered)) =>
        requireUnprunedFallback(compacts.takeWhile(_ != cp), covered)
        cp +: segs.filter(p => {
          val n = p.getName.stripPrefix("seg-")
          !covered(n) && !excludeSegments(n)
        })
      case None =>
        requireUnprunedFallback(compacts, Set.empty)
        b +: segs.filter(p =>
          !excludeSegments(p.getName.stripPrefix("seg-")))
    }
  }

  /** Segment names folded into a compaction generation (its
    * `_COVERED` manifest, one name per line). */
  private def readCovered(fs: org.apache.hadoop.fs.FileSystem,
                          compactDir: Path): Set[String] = {
    val in = fs.open(new Path(compactDir, "_COVERED"))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** Stage→rename publish with the Hadoop rename-into-existing-dir
    * heal. `tmp` must already be complete (marker included). Returns
    * true iff OUR staged dir became `dst`; false when a concurrent
    * publisher won the race (our staging is discarded and `dst` is
    * verified complete — identical content by the callers'
    * idempotent-retry contracts). */
  private def publishStaged(fs: org.apache.hadoop.fs.FileSystem,
                            tmp: Path, dst: Path): Boolean = {
    if (fs.exists(dst)) {
      if (fs.exists(new Path(dst, "_COMPLETE"))) {
        fs.delete(tmp, true)
        return false
      }
      // markerless crash leftover: move it ASIDE atomically rather
      // than deleting in place — two racers both seeing the leftover
      // would otherwise double-delete, and the second delete can land
      // AFTER a concurrent publisher renamed its COMPLETE sidecar
      // into dst (destroying a published index under its marker). The
      // rename-aside succeeds for exactly one racer; a loser re-checks
      // and only falls back to delete when dst is still the markerless
      // leftover.
      val aside = new Path(dst.getParent,
        s"_stage-trash-${java.util.UUID.randomUUID}")
      if (fs.rename(dst, aside)) fs.delete(aside, true)
      else if (fs.exists(new Path(dst, "_COMPLETE"))) {
        fs.delete(tmp, true) // a racer published while we raced the heal
        return false
      } else if (fs.exists(dst)) fs.delete(dst, true)
    }
    if (!fs.rename(tmp, dst)) {
      val ok = fs.exists(new Path(dst, "_COMPLETE"))
      fs.delete(tmp, true)
      require(ok, s"publishStaged: could not publish $dst")
      return false
    }
    // some FileSystems move the source INSIDE an existing destination
    // instead of refusing: if a concurrent publisher landed dst
    // between our exists check and the rename, our tmp is now nested
    // (hidden to readers) — delete it and report the race
    val nested = new Path(dst, tmp.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); return false }
    true
  }

  /** Staged publish of a whole sidecar BASE directory (the first-build
    * path of every sidecar family): `build` writes the content under a
    * hidden `_stage-*` sibling of the destination, the `_COMPLETE`
    * marker is created inside the staging dir, and ONE rename makes
    * the sidecar visible — so two concurrent first builders of the
    * same fresh key never interleave parquet `overwrite`s under the
    * published name, and a reader that can see `_COMPLETE` can only
    * see a whole sidecar. The losing racer's staging dir is discarded
    * (identical content by the snapshot-key contract). A markerless
    * `dst` (pre-protocol crash leftover) is replaced. Crashed staging
    * leftovers at the indexDir level are invisible to readers
    * (underscore prefix) and reaped by [[pruneSuperseded]].
    *
    * Returns true iff OUR build became the published sidecar. Fast
    * path: if `dst` is already complete, `build` is never run. */
  private[pipeline] def publishStagedBase(spark: SparkSession, key: String)
      (build: (org.apache.hadoop.fs.FileSystem, Path) => Unit): Boolean = {
    val root = new Path(indexDir(spark))
    val dst = new Path(root, key)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new Path(dst, "_COMPLETE"))) return false
    val tmp = new Path(root, s"_stage-$key-${java.util.UUID.randomUUID}")
    try {
      build(fs, tmp)
      fs.create(new Path(tmp, "_COMPLETE"), true).close()
      publishStaged(fs, tmp, dst)
    } finally fs.delete(tmp, true) // no-op when the rename moved it
  }

  /** Fold the base (or newest compaction) plus every complete segment
    * into ONE new compaction generation — the maintenance step of the
    * every-snapshot loop. Without it the CCNet batch cadence appends
    * one `seg-*` directory forever and the union read degrades into
    * thousands of tiny parquet files behind a long driver listing;
    * after it, [[loadNearDup]] reads ONE root (plus any segments
    * appended after the fold started).
    *
    * Protocol mirrors [[appendNearDup]]: the generation is built —
    * `_COVERED` manifest and marker included — under a hidden
    * `_stage-*` name and published by a single rename, so readers
    * never see a partial generation and a crashed compactor is
    * invisible. Everything it folds stays immutable on disk: a reader
    * that listed the sidecar a moment earlier keeps reading the old
    * base + segments unharmed. Set `pruneCovered` to delete the
    * folded segments and superseded generations AFTER the publish —
    * only safe once no concurrent reader can still hold the old
    * listing (the single-orchestrator batch loop between batches).
    *
    * Returns the number of segments folded; 0 = nothing to do (no
    * complete segments beyond the current generation). */
  def compactNearDup(spark: SparkSession, key: String,
                     pruneCovered: Boolean = false): Int = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(new Path(b, "_COMPLETE")),
      s"compactNearDup: base sidecar incomplete at $b")
    val entries = fs.listStatus(b).toSeq.filter(_.isDirectory)
    def complete(p: Path): Boolean = fs.exists(new Path(p, "_COMPLETE"))
    val segs = entries
      .filter(st => st.getPath.getName.startsWith("seg-") &&
        complete(st.getPath))
      .map(_.getPath).sortBy(_.getName)
    val compacts = entries
      .filter(st => st.getPath.getName.startsWith("compact-") &&
        complete(st.getPath))
      .map(_.getPath).sortBy(_.getName)
    val prevGen = compacts.lastOption
    val prevCovered = prevGen.map(readCovered(fs, _)).getOrElse(Set.empty)
    val fold = segs.filter(p => !prevCovered(p.getName.stripPrefix("seg-")))
    if (fold.isEmpty) return 0
    val gen = prevGen
      .map(_.getName.stripPrefix("compact-").toLong + 1).getOrElse(1L)
    val roots = prevGen.getOrElse(b) +: fold
    val tmp = new Path(b, s"_stage-compact-${java.util.UUID.randomUUID}")
    spark.read.schema("id BIGINT, band INT, key BIGINT")
      .parquet(roots.map(r => new Path(r, "bands").toString): _*)
      .write.mode("overwrite").parquet(new Path(tmp, "bands").toString)
    spark.read.schema("id BIGINT, s BIGINT")
      .parquet(roots.map(r => new Path(r, "shingles").toString): _*)
      .write.mode("overwrite").parquet(new Path(tmp, "shingles").toString)
    val covered = prevCovered ++ fold.map(_.getName.stripPrefix("seg-"))
    val out = fs.create(new Path(tmp, "_COVERED"), true)
    try out.write(covered.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.create(new Path(tmp, "_COMPLETE"), true).close()
    val dst = new Path(b, f"compact-$gen%06d")
    if (!publishStaged(fs, tmp, dst))
      return 0 // a concurrent compactor published this generation
    if (pruneCovered) {
      // everything the published generation supersedes: every segment
      // it covers (whether folded now or by an earlier generation),
      // all earlier generations, and crashed staging leftovers
      segs.filter(p => covered(p.getName.stripPrefix("seg-")))
        .foreach(fs.delete(_, true))
      (compacts ++ entries.map(_.getPath)
          .filter(_.getName.startsWith("_stage-")))
        .foreach(fs.delete(_, true))
    }
    fold.size
  }

  /** Load a complete EXACT-dedup sidecar CHAIN: the per-root Bloom
    * filters (driver bytes, zero jobs) and the lazy union hash index
    * — base (or newest compaction) plus every complete appended
    * segment, same root selection and retry-exclusion semantics as
    * [[loadNearDup]]. Callers probe with the OR of the per-root
    * Blooms (false positives verify exactly against the index; false
    * negatives are impossible, per-root or OR'd) — [[compactExact]]
    * folds the roots back to ONE bloom + one hash table. None if the
    * base is absent/incomplete. */
  def loadExactChain(spark: SparkSession, key: String,
                     excludeSegments: Set[String] = Set.empty)
      : Option[(Seq[BloomFilter], DataFrame)] = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(b, "_COMPLETE"))) None
    else {
      val roots = chainRoots(fs, b, excludeSegments)
      val blooms = roots.map { r =>
        val in = fs.open(new Path(r, "bloom.bin"))
        try BloomFilter.readFrom(in) finally in.close()
      }
      Some((blooms, spark.read.schema("h1 BIGINT, h2 BIGINT")
        .parquet(roots.map(r => new Path(r, "hashes").toString): _*)))
    }
  }

  /** Fold one batch's NOVEL paragraph hashes into an existing exact
    * sidecar as a self-contained segment
    * (`seg-<id>/{hashes,bloom.bin,_COMPLETE}`) — the exact-dedup
    * sibling of [[appendNearDup]], same staging/rename publish, same
    * append-once/immutable contract. The segment carries its own
    * Bloom (built from the hashes as written back, so staged content
    * is self-consistent); readers OR it with the other roots'. */
  def appendExact(spark: SparkSession, key: String, segment: String,
                  hashes: DataFrame, estItems: Long): Unit = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(new Path(b, "_COMPLETE")),
      s"appendExact: base sidecar incomplete at $b")
    val seg = new Path(b, s"seg-$segment")
    if (fs.exists(new Path(seg, "_COMPLETE")))
      return // complete segments are immutable
    val tmp = new Path(b, s"_stage-$segment-${java.util.UUID.randomUUID}")
    hashes.write.mode("overwrite")
      .parquet(new Path(tmp, "hashes").toString)
    val written = spark.read.schema("h1 BIGINT, h2 BIGINT")
      .parquet(new Path(tmp, "hashes").toString)
    val bloom = Dedup.boundedBloom(written, "h1", estItems)
    val out = fs.create(new Path(tmp, "bloom.bin"), true)
    try bloom.writeTo(out) finally out.close()
    fs.create(new Path(tmp, "_COMPLETE"), true).close()
    publishStaged(fs, tmp, seg) // raced loser = identical content, fine
  }

  /** Exact-chain compaction — [[compactNearDup]]'s sibling: fold the
    * base (or newest generation) plus every complete segment into one
    * `compact-NNNNNN` generation holding ONE distinct hash table and
    * ONE Bloom sized by its exact row count (staged parquet footers —
    * no extra job beyond the bloom build's single pass over 16-byte
    * rows; corpus text is never touched). The union is de-duplicated
    * here, so even hashes double-folded by concurrent batch appends
    * (harmless to probes, which are semi-joins) collapse to one row.
    * Same `_COVERED`/marker/publish protocol and `pruneCovered`
    * semantics as the near-dup fold. Returns segments folded. */
  def compactExact(spark: SparkSession, key: String,
                   pruneCovered: Boolean = false): Int = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(new Path(b, "_COMPLETE")),
      s"compactExact: base sidecar incomplete at $b")
    val entries = fs.listStatus(b).toSeq.filter(_.isDirectory)
    def complete(p: Path): Boolean = fs.exists(new Path(p, "_COMPLETE"))
    val segs = entries
      .filter(st => st.getPath.getName.startsWith("seg-") &&
        complete(st.getPath))
      .map(_.getPath).sortBy(_.getName)
    val compacts = entries
      .filter(st => st.getPath.getName.startsWith("compact-") &&
        complete(st.getPath))
      .map(_.getPath).sortBy(_.getName)
    val prevGen = compacts.lastOption
    val prevCovered = prevGen.map(readCovered(fs, _)).getOrElse(Set.empty)
    val fold = segs.filter(p => !prevCovered(p.getName.stripPrefix("seg-")))
    if (fold.isEmpty) return 0
    val gen = prevGen
      .map(_.getName.stripPrefix("compact-").toLong + 1).getOrElse(1L)
    val roots = prevGen.getOrElse(b) +: fold
    val tmp = new Path(b, s"_stage-compact-${java.util.UUID.randomUUID}")
    spark.read.schema("h1 BIGINT, h2 BIGINT")
      .parquet(roots.map(r => new Path(r, "hashes").toString): _*)
      .distinct()
      .write.mode("overwrite").parquet(new Path(tmp, "hashes").toString)
    val written = spark.read.schema("h1 BIGINT, h2 BIGINT")
      .parquet(new Path(tmp, "hashes").toString)
    // Bloom capacity: parquet footers of the just-written table (zero
    // jobs). If the footer read fails, COUNT the staged table — one
    // cheap job over 16-byte rows — never a fixed fallback: a Bloom
    // sized for 1 item is saturated, so every future batch probe would
    // pass it and pay the full verify join forever after.
    val n = graft.sources.ParquetStats
      .rowCount(spark, new Path(tmp, "hashes").toString)
      .getOrElse(written.count())
    val bloom = Dedup.boundedBloom(written, "h1", math.max(n, 1L))
    val outB = fs.create(new Path(tmp, "bloom.bin"), true)
    try bloom.writeTo(outB) finally outB.close()
    val covered = prevCovered ++ fold.map(_.getName.stripPrefix("seg-"))
    val outC = fs.create(new Path(tmp, "_COVERED"), true)
    try outC.write(covered.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally outC.close()
    fs.create(new Path(tmp, "_COMPLETE"), true).close()
    val dst = new Path(b, f"compact-$gen%06d")
    if (!publishStaged(fs, tmp, dst)) return 0
    if (pruneCovered) {
      segs.filter(p => covered(p.getName.stripPrefix("seg-")))
        .foreach(fs.delete(_, true))
      (compacts ++ entries.map(_.getPath)
          .filter(_.getName.startsWith("_stage-")))
        .foreach(fs.delete(_, true))
    }
    fold.size
  }

  /** Age-based prune usable OUTSIDE the single-orchestrator loop —
    * works on both chain families (exact and near-dup share the
    * base / `seg-*` / `compact-NNNNNN` / `_COVERED` layout).
    *
    * `compact*`'s `pruneCovered` deletes the folded dirs immediately,
    * which is documented safe only when no concurrent reader can hold
    * a pre-compaction listing (the orchestrator's between-batches
    * window). A multi-reader serving tier instead calls this with a
    * LEASE: superseded dirs (segments the newest complete generation
    * covers, older generations, and `_stage-*` crash leftovers) are
    * deleted only once the newest generation has been published for at
    * least `leaseMs`. Any reader's listing is at most one session old,
    * so a lease ≥ the maximum reader session length (plus the retry
    * window — a retry excluding a folded segment needs the covered
    * siblings, see [[chainRoots]]) guarantees every live reader's
    * roots survive. Everything a reader can currently select stays
    * immutable; nothing the newest generation doesn't supersede is
    * touched. Returns directories deleted (0 = nothing superseded or
    * lease not yet expired). */
  def pruneSuperseded(spark: SparkSession, key: String,
                      leaseMs: Long): Int = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    val now = System.currentTimeMillis()
    // a staging dir is a crash leftover only when NOTHING under it has
    // been written inside the lease — the dir's own mtime is not
    // refreshed by part files landing deeper in the tree, so a live
    // stager mid-parquet-write must be judged by its newest file, not
    // its creation time
    def newestMtime(p: Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).toSeq.map(s => newestMtime(s.getPath))).max
    }
    def staleStage(p: Path): Boolean =
      try now - newestMtime(p) >= leaseMs
      catch { case _: java.io.FileNotFoundException => false } // racing
    // crashed FIRST-BUILD staging lives at the indexDir level
    // (publishStagedBase stages as a SIBLING of the base dir): reap
    // this key's stale `_stage-<key>-*` and any `_stage-trash-*`
    // (rename-aside garbage is deletable by definition) even when the
    // sidecar itself has no generations yet
    val rootStale = fs.listStatus(new Path(indexDir(spark))).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter(p => (p.getName.startsWith(s"_stage-$key-") ||
        p.getName.startsWith("_stage-trash-")) && staleStage(p))
    if (!fs.exists(new Path(b, "_COMPLETE"))) {
      rootStale.foreach(fs.delete(_, true))
      return rootStale.size
    }
    val entries = fs.listStatus(b).toSeq.filter(_.isDirectory)
    def complete(p: Path): Boolean = fs.exists(new Path(p, "_COMPLETE"))
    val compacts = entries
      .filter(st => st.getPath.getName.startsWith("compact-") &&
        complete(st.getPath))
      .sortBy(_.getPath.getName)
    val victims = compacts.lastOption match {
      case None => Seq.empty // nothing superseded without a generation
      case Some(newest) if now - newest.getModificationTime < leaseMs =>
        Seq.empty // inside the reader lease — delete nothing yet
      case Some(newest) =>
        val covered = readCovered(fs, newest.getPath)
        entries.map(_.getPath).filter { p =>
          val n = p.getName
          (n.startsWith("seg-") && covered(n.stripPrefix("seg-"))) ||
          (n.startsWith("compact-") && n < newest.getPath.getName) ||
          (n.startsWith("_stage-") && staleStage(p))
        }
    }
    (victims ++ rootStale).foreach(fs.delete(_, true))
    victims.size + rootStale.size
  }

  /** Fold one kept batch into an existing near-dup sidecar as a
    * self-contained SEGMENT (`seg-<id>/{bands,shingles,_COMPLETE}`):
    * batch N+2 then candidates against old ∪ kept(N+1) ∪ … with still
    * zero old-corpus rescans — the append half of the CCNet loop.
    * Crash-safe AND race-safe: the segment is staged under a hidden
    * `_stage-*` name (marker written inside the staging dir) and
    * published by a single rename — a crashed appender leaves only an
    * invisible staging dir, and concurrent appenders of the same
    * segment never expose partial content under the published name.
    *
    * Segments are APPEND-ONCE AND IMMUTABLE: if the segment is
    * already complete this call is a NO-OP (the idempotent-retry
    * path — a retried batch recomputes identical content by
    * construction, see [[Dedup.incrementalNearDupBatch]], so there is
    * nothing to rewrite, and NOT rewriting means a published segment
    * can never be un-committed by a crashed retry or go invisible to
    * concurrent readers mid-rewrite). Publishing DIFFERENT content
    * requires a new segment id. An INCOMPLETE leftover (prior crash
    * before its marker) is overwritten and completed. The caller must
    * hand DISTINCT kept-doc rows (band rows + distinct shingle
    * hashes), exactly what [[graft.pipeline.Dedup.minhashBands]] /
    * `Dedup.shingles` emit. */
  def appendNearDup(spark: SparkSession, key: String, segment: String,
                    bands: DataFrame, shingles: DataFrame): Unit = {
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(new Path(b, "_COMPLETE")),
      s"appendNearDup: base sidecar incomplete at $b")
    val seg = new Path(b, s"seg-$segment")
    if (fs.exists(new Path(seg, "_COMPLETE")))
      return // complete segments are immutable
    // ATOMIC PUBLISH: build the whole segment — marker included —
    // under a staging name ('_'-prefixed: hidden to readers AND to
    // [[loadNearDup]]'s seg- filter), then one rename drops it into
    // place. Two concurrent appenders of the same still-incomplete
    // segment therefore never interleave partial writes under the
    // published name: each stages privately, the first rename wins,
    // and the loser sees the winner's complete segment and discards
    // its own staging dir (identical content by the retry contract).
    // A visible seg- dir without a marker can only be a pre-rename-
    // protocol crash leftover; it is invisible to readers and safely
    // replaced here.
    val tmp = new Path(b, s"_stage-$segment-${java.util.UUID.randomUUID}")
    bands.write.mode("overwrite").parquet(new Path(tmp, "bands").toString)
    shingles.write.mode("overwrite")
      .parquet(new Path(tmp, "shingles").toString)
    fs.create(new Path(tmp, "_COMPLETE"), true).close()
    publishStaged(fs, tmp, seg) // raced loser = identical content, fine
  }

  /** Write band index + shingle-hash table — staged + renamed, same
    * concurrent-first-build protocol as [[save]]. */
  def saveNearDup(spark: SparkSession, key: String, bands: DataFrame,
                  shingles: DataFrame): Unit =
    publishStagedBase(spark, key) { (_, tmp) =>
      bands.write.mode("overwrite").parquet(new Path(tmp, "bands").toString)
      shingles.write.mode("overwrite")
        .parquet(new Path(tmp, "shingles").toString)
    }

  /** Near-dup twin of [[loadOrBuild]]: reuse the snapshot's MinHash
    * sidecar if complete (no job over the old corpus at all), else ONE
    * pass over `old` builds the shingle rows, derives the band index,
    * and persists both — 4 band rows (~24 B) + one row per distinct
    * shingle (~16 B) per doc; the corpus TEXT is never stored and
    * never rescanned. Both paths return frames read back from the
    * sidecar so every later batch runs the identical candidate-join +
    * exact-verify plan. */
  def loadOrBuildNearDup(spark: SparkSession, corpusPath: String,
                         variant: String, old: => DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 16, bands: Int = 4,
                         excludeSegments: Set[String] = Set.empty)
      : (DataFrame, DataFrame) =
    loadOrBuildNearDupKeyed(spark, snapshotKey(spark, corpusPath, variant),
      old, idCol, textCol, numHashes, bands, excludeSegments)

  /** [[loadOrBuildNearDup]] with a PRE-computed key: callers that also
    * append (the batch loop) compute the snapshot key once and use it
    * for both load and append — one getContentSummary walk instead of
    * two, and no load-key/append-key race if the corpus path mutates
    * between the calls. */
  def loadOrBuildNearDupKeyed(spark: SparkSession, key: String,
                              old: => DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 16, bands: Int = 4,
                              excludeSegments: Set[String] = Set.empty)
      : (DataFrame, DataFrame) =
    loadNearDup(spark, key, excludeSegments).getOrElse {
      val sh = Dedup.shingles(old, idCol, textCol).persist()
      saveNearDup(spark, key, Dedup.minhashBands(sh, numHashes, bands),
        sh)
      sh.unpersist(blocking = false)
      loadNearDup(spark, key, excludeSegments)
        .getOrElse(throw new IllegalStateException(
          s"near-dup sidecar write failed: $key"))
    }

  /** Generic snapshot-keyed derived-table sidecar (the
    * [[IvfIndex.cellsSidecar]] pattern without the partitioning):
    * persist a small table derived from a corpus snapshot — an exact
    * ground-truth pair table, an eval denominator — so every later
    * query over the same snapshot loads it job-free instead of
    * recomputing it (the recall evals' exact-truth side is a
    * DENOMINATOR, not the operator under eval, so caching it is the
    * serving shape, not a benchmark cheat). Same key/marker protocol
    * as every other sidecar: corpus change ⇒ clean miss; crashed
    * writer ⇒ invisible; `build` is by-name and never constructed on
    * a hit. */
  def tableSidecar(spark: SparkSession, corpusPath: String,
                   variant: String, schemaDdl: String,
                   build: => DataFrame): DataFrame = {
    val key = snapshotKey(spark, corpusPath, variant)
    val b = base(spark, key)
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    def read: DataFrame = spark.read.schema(schemaDdl)
      .parquet(new Path(b, "table").toString)
    if (fs.exists(new Path(b, "_COMPLETE"))) read
    else {
      publishStagedBase(spark, key) { (_, tmp) =>
        build.write.mode("overwrite").parquet(new Path(tmp, "table").toString)
      }
      read
    }
  }

  /** The one call operators use: reuse the snapshot's sidecar if
    * complete (no job over the old corpus at all), else build it from
    * `old` — ONE scan builds the Bloom, one writes the distinct hash
    * index — and persist for every later batch/stream over the same
    * snapshot. Returns the Bloom plus the hash-index DataFrame (always
    * read back from the sidecar, so both paths run the identical
    * verify plan). */
  def loadOrBuild(spark: SparkSession, corpusPath: String, variant: String,
                  old: => DataFrame, bloomCol: String, estItems: Long)
      : (BloomFilter, DataFrame) = {
    val key = snapshotKey(spark, corpusPath, variant)
    load(spark, key).getOrElse {
      val oldDf = old
      val bloom = Dedup.boundedBloom(oldDf, bloomCol, estItems)
      // distinct over the (h1, h2) PROJECTION load() reads back — the
      // same hardening incrementalExactBatch's base write got: a
      // caller whose `old` carries ride-along columns would otherwise
      // persist duplicate (h1, h2) pairs that a downstream LEFT join
      // against the index multiplies (semi-join probes are immune)
      save(spark, key, bloom, oldDf.select("h1", "h2").distinct())
      load(spark, key).getOrElse(
        throw new IllegalStateException(s"dedup sidecar write failed: $key"))
    }
  }
}
