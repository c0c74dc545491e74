package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's one publish-once / reuse-many mechanism: the in-JVM memo
  * ([[once]]), the two publish paths (key-addressed
  * [[sharedTableWithNotes]], path-addressed [[publishedArtifact]]) and
  * the guards under them.
  *
  * Two operational hazards of compute-once caches at scale, both flagged by
  * the round-5 review:
  *
  *  1. STALE KEY — the memo contract says "the cache key must encode the
  *     data version", but nothing *detects* a violation: a key reused after
  *     the input changed silently serves results computed from different
  *     data. [[fingerprint]] + the sidecar turn that silent wrong answer
  *     into a loud error: publishers record (row count, order-independent
  *     xxhash64 fold) of their input beside the artifact; every reuse
  *     recomputes the fingerprint of the CURRENT input (one map-side
  *     aggregate — no shuffle beyond a single-row combine) and
  *     [[verifySidecar]] fails on mismatch.
  *
  *  2. CONCURRENT PUBLISH — probe-then-`overwrite` to the final path means
  *     two fresh sessions that both miss the `_SUCCESS` marker write
  *     concurrently to the same directory; overwrite's delete phase can
  *     clobber the other writer's in-flight output and stamp a mixed table.
  *     [[publishAtomic]] writes to a session-unique staging sibling and
  *     renames into place — `FileSystem.rename` is atomic on HDFS-like
  *     stores, the first rename wins, and losers delete their staging dir
  *     and read the winner's table.
  */
object PublishGuard {

  /** Warehouse root of the artifacts the `SparkEntry` query constructors
    * publish (centroids, codebooks, embeddings, merges, …) — one name
    * shared by the publishers and the oracle SQL's `read_parquet` paths,
    * so the two agree by construction.
    */
  val ArtifactWarehouse = "/tmp/graft_warehouse"

  /** Every compute-once value of the engine — resolved published-table
    * directories, loaded training artifacts, layout rewrites, input
    * fingerprints — keyed by (family, key).
    */
  private val memo = new ConcurrentHashMap[(String, String), AnyRef]()

  /** The memoized value of (family, key), building it on a miss. The
    * build runs OUTSIDE any map lock (get → build → `putIfAbsent`, first
    * writer wins), so a build may itself resolve another artifact through
    * `once` (sym adjacency → trade edges, manifest → clustered lineitem)
    * whatever bins the two keys hash to: a nested `computeIfAbsent` throws
    * "Recursive update" when they share one. Two concurrent misses both
    * build and the later value is dropped for the first; publish races
    * across sessions are settled on disk by [[publishAtomic]]. A build that
    * throws memoizes nothing.
    */
  def once[A](family: String, key: String)(build: => A): A = {
    val k = (family, key)
    val hit = memo.get(k)
    if (hit != null) hit.asInstanceOf[A]
    else {
      val v = build.asInstanceOf[AnyRef]
      val prior = memo.putIfAbsent(k, v)
      (if (prior != null) prior else v).asInstanceOf[A]
    }
  }

  /** Test hook — drop every memo entry of `families`, simulating a fresh
    * session: reuse must then come from the published tables.
    */
  private[graft] def forget(families: String*): Unit =
    memo.keySet.removeIf(k => families.contains(k._1))

  /** Order-independent input fingerprint: row count + bit-XOR fold of the
    * per-row xxhash64 over `cols`. XOR commutes, so the value is stable
    * under repartitioning — only the DATA determines it.
    */
  final case class Fingerprint(rows: Long, hash: Long)

  /** Sidecar filename inside a published table directory. The leading `_`
    * keeps it out of Spark/DuckDB parquet file listings (same convention
    * as `_SUCCESS`).
    */
  val SidecarFile = "_GRAFT_FINGERPRINT"

  /** One map-side pass over `df`: partial (count, xor) per partition, one
    * combine row. Never shuffles data-sized frames.
    *
    * MEMOIZED (round 18) by (canonicalized plan, fingerprint columns,
    * input-file metadata signature): the published-artifact chains
    * (edges → walk corpus → embeddings → centroids) re-verify every link
    * on every consumer call, so a bench/serving session paid a
    * fingerprint JOB per link per query (~1.1 s/query measured on the
    * ANN family). For a frame whose every leaf is a file scan, the file
    * set + per-file (length, mtime) is a sound staleness key — any real
    * rewrite (publishes write fresh files; testdata regeneration
    * replaces files) changes it and forces a recompute from data, so a
    * stale cache key still fails loudly. Frames with any non-file leaf
    * (in-memory, checkpointed) are never memoized.
    */
  def fingerprint(df: DataFrame, cols: Seq[Column]): Fingerprint = {
    def compute(): Fingerprint = {
      val r = df.select(xxhash64(cols: _*).as("__fph"))
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(__fph)"), lit(0L)).as("h"))
        .head()
      Fingerprint(r.getLong(0), r.getLong(1))
    }
    fingerprintKey(df, cols) match {
      case Some(key) => once("fingerprint", key)(compute())
      case None => compute()
    }
  }

  /** The memo key, or None when the frame is not purely file-backed.
    * Plan semantics (canonicalized hash) + the exact fingerprint columns
    * + sorted (path, length, mtime) of every input file.
    */
  private def fingerprintKey(
      df: DataFrame, cols: Seq[Column]): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val analyzed = df.queryExecution.analyzed
    val leaves = analyzed.collectLeaves()
    val allFileBacked = leaves.nonEmpty && leaves.forall {
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    if (!allFileBacked) None
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val sig = new StringBuilder
      df.inputFiles.sorted.foreach { f =>
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        sig.append(f).append(':').append(st.getLen).append(':')
          .append(st.getModificationTime).append('|')
      }
      Some(analyzed.semanticHash().toString + "/" +
        cols.map(c => org.apache.spark.sql.GraftBridge.expression(c)
          .canonicalized.toString).mkString(",") + "/" + sig)
    }
  }

  /** `notes` records publish-time facts that don't key the cache but do
    * explain the artifact's provenance (e.g. the EFFECTIVE training
    * schedule of a warm-start refresh, which differs from the path's
    * nominal iteration count — round-15 advice). Staleness checks read
    * only `rows`/`hash`, so notes never affect them.
    */
  private def writeSidecar(fs: FileSystem, dir: Path, fp: Fingerprint,
      notes: Map[String, String]): Unit = {
    val out = fs.create(new Path(dir, SidecarFile), true)
    val extra = notes.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }.mkString
    try out.write(
      s"rows=${fp.rows}\nhash=${fp.hash}\n$extra".getBytes("UTF-8"))
    finally out.close()
  }

  /** A small file's text, or None when it does not exist — one `open`,
    * no separate existence probe.
    */
  private def readText(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** All `k=v` lines of a sidecar, fingerprint AND notes (empty when
    * there is no sidecar) — the one sidecar parser.
    */
  def readSidecarNotes(fs: FileSystem, dir: Path): Map[String, String] =
    readText(fs, new Path(dir, SidecarFile)).fold(Map.empty[String, String])(
      _.linesIterator.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v.trim }.toMap)

  /** The input fingerprint a sidecar's lines record, if any. */
  private def fingerprintOf(notes: Map[String, String]): Option[Fingerprint] =
    for (n <- notes.get("rows"); h <- notes.get("hash"))
      yield Fingerprint(n.toLong, h.toLong)

  /** Fail loudly if the artifact at `dir` was not built from input with
    * fingerprint `current` — a stale cache key must be an error, never a
    * silently wrong answer. Returns the sidecar's lines (one read serves
    * both the check and the caller's notes).
    */
  private def verifySidecar(fs: FileSystem, dir: Path, current: Fingerprint,
      what: String): Map[String, String] = {
    val notes = readSidecarNotes(fs, dir)
    fingerprintOf(notes) match {
      case None =>
        throw new IllegalStateException(
          s"$what at $dir has no $SidecarFile sidecar — cannot verify it " +
            "matches the current input; delete the table or publish under " +
            "a new cache key")
      case Some(stored) if stored != current =>
        throw new IllegalStateException(
          s"$what at $dir was built from DIFFERENT input (published " +
            s"rows=${stored.rows} hash=${stored.hash}; current " +
            s"rows=${current.rows} hash=${current.hash}) — the cache key " +
            "is stale; pass a key that encodes the data version")
      case _ => notes
    }
  }

  /** Publisher-token marker inside a staging (then published) table
    * directory. Leading `_` keeps it out of parquet file listings.
    */
  val MarkerFile = "_GRAFT_PUBLISHER"

  /** KEY-ADDRESSED publish path: the compute-once / publish / reuse dance
    * for a shared table — the shape
    * [[graft.operators.Dedup.sharedNearDupClusters]] proved out (its
    * Scaladoc carries the operational contract), shared by every
    * compute-once table family (near-dup clusters, triangle stats, …).
    * A stale sidecar FAILS LOUDLY: the caller claimed the key encodes the
    * data version, so a mismatch means the key lies.
    *
    *  - `family`: the warehouse subdirectory (`$base/$family/<slug>`) and
    *    the [[once]] family of the resolved directory.
    *  - `cacheKey`: MUST encode the data version; the published path is
    *    made injective in it via an md5 suffix (sanitization alone could
    *    collide distinct keys).
    *  - `params`: non-data parameters that change the artifact (rendered
    *    into both the memo key and the path slug).
    *  - `fp`: fingerprint of the artifact's INPUT — re-checked on every
    *    reuse (memo hits included) so a stale key fails loudly.
    *  - `notesOf`: publish-time NOTES derived from the staged artifact
    *    (row counts, node counts — facts a consumer would otherwise
    *    recompute with a job per call), returned with the table. Notes
    *    must be deterministic functions of the artifact so a racing
    *    publish loser reading the winner's sidecar sees the same values it
    *    would have written; a caller must tolerate missing keys (tables
    *    published before its note was introduced).
    *
    * With no baseDir (argument or `spark.graft.warehouse.dir` conf) the
    * table falls back to driver-local temp — correct in local mode only.
    */
  def sharedTableWithNotes(
      spark: SparkSession,
      baseDir: String,
      family: String,
      cacheKey: String,
      params: Seq[String],
      fp: Fingerprint,
      what: String,
      notesOf: DataFrame => Map[String, String] = _ => Map.empty)(
      compute: () => DataFrame): (DataFrame, Map[String, String]) = {
    val base =
      if (baseDir.nonEmpty) baseDir
      else spark.conf.get("spark.graft.warehouse.dir", "")
    val conf = spark.sparkContext.hadoopConfiguration
    def materialize(fs: FileSystem, out: String): Unit = {
      compute().write.mode("overwrite").parquet(out)
      writeSidecar(fs, new Path(out), fp, notesOf(spark.read.parquet(out)))
    }
    val dir = once(family, (base +: cacheKey +: params).mkString("|")) {
      if (base.nonEmpty) {
        val keyHash = java.security.MessageDigest.getInstance("MD5")
          .digest(cacheKey.getBytes("UTF-8"))
          .take(6).map(x => f"${x & 0xff}%02x").mkString
        val paramsSlug = params.mkString("_")
        val slug = (Seq(
          s"${cacheKey.replaceAll("[^A-Za-z0-9._-]", "_")}_$keyHash") ++
          (if (paramsSlug.nonEmpty) Seq(paramsSlug) else Nil)).mkString("_")
        val out = s"$base/$family/$slug"
        val outPath = new Path(out)
        val fs = outPath.getFileSystem(conf)
        // _SUCCESS present ⇒ a prior session already published this exact
        // (key, params) table — reuse. Absent ⇒ compute into a staging
        // sibling and rename into place (racing publishers: first rename
        // wins, losers read the winner's committed table).
        if (!fs.exists(new Path(outPath, "_SUCCESS")))
          publishAtomic(spark, out)(materialize(fs, _))
        out
      } else {
        val out = java.nio.file.Files
          .createTempDirectory(s"graft-$family").toString
        materialize(new Path(out).getFileSystem(conf), out)
        out
      }
    }
    val dirPath = new Path(dir)
    val notes = verifySidecar(dirPath.getFileSystem(conf), dirPath, fp, what)
    (spark.read.parquet(dir), notes)
  }

  /** PATH-ADDRESSED publish path: one code path for every published
    * training artifact (centroids, codebooks, weights, merges, node
    * embeddings) — the PUBLISHED TABLE at `path` is the single source of
    * truth. Semantics are those of a materialized view keyed by the input
    * fingerprint:
    *
    *  - table exists with a matching `_GRAFT_FINGERPRINT` sidecar → load
    *    and serve its values (any session, any JVM);
    *  - table missing → train, publish via [[publishAtomic]] (sidecar
    *    written INTO staging, so table + fingerprint appear atomically),
    *    then read BACK from the published table — under a publish race
    *    every JVM serves the winner's bits;
    *  - table exists but the sidecar mismatches the CURRENT input → the
    *    artifact is out of date: retrain and republish staging-first via
    *    [[replaceAtomic]] (never silently serve stale values, never
    *    hard-error on a mere refresh — the loud error of
    *    [[sharedTableWithNotes]] is for user-claimed version tokens; a
    *    path-keyed table can always be rebuilt from the data in front of
    *    us). If the republished sidecar STILL mismatches, a concurrent
    *    publisher is training on different data under the same path —
    *    the unresolvable conflict, and it throws.
    *
    * `warm` (optional) retrains a STALE artifact seeded from the prior
    * published value instead of from scratch (round-15 verdict item 4).
    * The prior value is loaded BEFORE the staging-first replace (the live
    * table stays readable throughout); an unreadable prior falls back to
    * the cold `train`. `notes(warmUsed)` lands in the sidecar so the
    * EFFECTIVE schedule of the table on disk is recorded (the path slug
    * carries only the nominal hyperparameters).
    *
    * `memoFamily` memoizes the LOADED value per (path, input fingerprint)
    * through [[once]], so repeated plan builds skip the table read. Leave
    * it None for session-bound values (DataFrames), which must not outlive
    * their session.
    */
  def publishedArtifact[A](
      spark: SparkSession,
      path: String,
      fp: Fingerprint,
      what: String,
      train: () => A,
      write: (A, String) => Unit,
      load: () => A,
      warm: Option[A => A] = None,
      notes: Boolean => Map[String, String] = _ => Map.empty,
      memoFamily: Option[String] = None): A = {
    def resolve(): A = {
      val outPath = new Path(path)
      val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def stage(value: => A, warmUsed: Boolean)(staging: String): Unit = {
        write(value, staging)
        writeSidecar(fs, new Path(staging), fp, notes(warmUsed))
      }
      if (fingerprintOf(readSidecarNotes(fs, outPath)) != Some(fp)) {
        if (!fs.exists(outPath)) publishAtomic(spark, path)(stage(train(), false))
        else {
          // out-of-date (or sidecar-less) artifact: with `warm`, the prior
          // table (still live) seeds the retrain
          val prior = warm.flatMap(wf =>
            scala.util.Try(load()).toOption.map(p => () => wf(p)))
          replaceAtomic(spark, path)(
            stage(prior.getOrElse(train)(), prior.isDefined))
        }
        // values memoized for this path under other inputs no longer
        // match the table on disk
        memoFamily.foreach(f =>
          memo.keySet.removeIf(k => k._1 == f && k._2.startsWith(s"$path|")))
        verifySidecar(fs, outPath, fp, what)
      }
      load()
    }
    memoFamily match {
      case Some(f) => once(f, s"$path|${fp.rows}|${fp.hash}")(resolve())
      case None => resolve()
    }
  }

  /** Publish `out` atomically: `write` materializes the artifact into a
    * session-unique hidden staging sibling, then one `rename` moves it
    * into place. First rename wins; a loser deletes its staging dir (the
    * caller then reads the winner's identical table — identical because
    * the fingerprint sidecar pins both to the same input). The staging
    * name starts with `.` so that even the local-FS rename fallback, which
    * can merge into an existing destination instead of failing, leaves
    * only a hidden directory that parquet file listings ignore.
    * Returns true if this caller's table is the one published.
    */
  private def publishAtomic(spark: SparkSession, out: String)(
      write: String => Unit): Boolean =
    stageAndSwap(spark, out, write)((fs, staging, outPath) =>
      Some(!fs.exists(outPath) && fs.rename(staging, outPath)))

  /** [[publishAtomic]] for REPLACING a live table: the new version is
    * written fully into staging first, then the live directory is deleted
    * immediately before the rename — the reader-visible missing-table
    * window is two metadata operations, not the recompute. Racing
    * replacers resolve like racing publishers: the first rename wins
    * (verified by token, exactly as publishAtomic), losers delete their
    * staging dir and read the winner's table. A rename that fails with NO
    * winner visible (transient FS error after the live delete) retries,
    * then keeps the staging dir rather than deleting the only surviving
    * copy of the data.
    */
  private def replaceAtomic(spark: SparkSession, out: String)(
      write: String => Unit): Boolean =
    stageAndSwap(spark, out, write) { (fs, staging, outPath) =>
      val winner = new Path(outPath, MarkerFile)
      // the swap: delete-then-rename, both metadata ops — a concurrent
      // replacer may slip its rename between ours, in which case our
      // rename merges-under or fails and we lose (token check)
      fs.delete(outPath, true)
      var renamed = fs.rename(staging, outPath)
      // transient-FS recovery: the live table is already deleted, so a
      // rename returning false with NO concurrent winner would — if the
      // staging dir were deleted — leave NEITHER version on disk. Retry
      // while no winner marker is visible; if the rename still fails and
      // nobody else won, KEEP the staging directory so the fresh data
      // survives for manual recovery.
      var retries = 0
      while (!renamed && retries < 3 && !fs.exists(winner)) {
        retries += 1
        renamed = fs.rename(staging, outPath)
      }
      if (renamed || fs.exists(winner)) Some(renamed) else None
    }

  /** The shared body of [[publishAtomic]] and [[replaceAtomic]]: `write`
    * fills a session-unique hidden staging sibling of `out`, stamped with
    * a fresh publisher token ([[MarkerFile]]); `swap(fs, staging, out)`
    * moves it into place and returns whether its rename ran — or None to
    * KEEP the staging directory. Otherwise the staging dir is deleted
    * unless this caller won.
    *
    * The win is verified by CONTENT, not by the rename's return value: on
    * stores where `rename(src, existingDir)` moves src UNDER the
    * destination, a racing loser's rename also "succeeds". Each publisher
    * trusts `won=true` only if the published table's top-level marker
    * carries its own token; a loser whose staging leaked under the
    * winner's table deletes the leaked copy.
    */
  private def stageAndSwap(spark: SparkSession, out: String,
      write: String => Unit)(
      swap: (FileSystem, Path, Path) => Option[Boolean]): Boolean = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(outPath.getParent)
    val token = java.util.UUID.randomUUID().toString
    val staging = new Path(outPath.getParent,
      s".${outPath.getName}.staging-${token.take(8)}")
    var won = false
    var keepStaging = false
    try {
      write(staging.toString)
      val m = fs.create(new Path(staging, MarkerFile), true)
      try m.write(token.getBytes("UTF-8")) finally m.close()
      swap(fs, staging, outPath) match {
        case None => keepStaging = true
        case Some(renamed) =>
          won = renamed &&
            readText(fs, new Path(outPath, MarkerFile)).contains(token)
          if (renamed && !won) {
            // rename "succeeded" but merged us under the winner: remove
            // the leaked nested staging copy so the table stays clean
            val leaked = new Path(outPath, staging.getName)
            if (fs.exists(leaked)) fs.delete(leaked, true)
          }
      }
      won
    } finally {
      if (!won && !keepStaging) fs.delete(staging, true)
    }
  }
}
