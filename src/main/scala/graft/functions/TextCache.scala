package graft.functions

import graft.Tables
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Shared materialization cache for the text tier (SURVEY §7.6 headroom 1).
  *
  * Every text-pipeline query starts from the same derivations of
  * `documents.text` — the interned (xxhash64) distinct token ids, the
  * interned word-n-gram ids — and the dedup-cluster consumers
  * (q100/q108/q109/q203) all start from the same LSH+verify+connected-
  * components cluster map. This object computes each form ONCE per
  * (session, sf dir) and WRITES IT TO PARQUET, returning a reader over the
  * materialized files; every consumer after the first reads the artifact
  * instead of re-running the derivation.
  *
  * 100 TB shape: this IS the standard tokenize-once / cluster-map
  * materialization — a real pipeline writes the derived corpus form to
  * columnar storage up front (one scan of the raw text, ever) and every
  * downstream stage reads the materialized table. File-backed on purpose,
  * NOT `Dataset.persist`:
  *
  *  - `persist(MEMORY_AND_DISK)` ties the artifact's lifetime to the plan
  *    cache and executor block managers — an executor loss (or any
  *    session-level cache sweep, e.g. the bench harness's
  *    [[Checkpoints.sweep]] between queries) silently degrades every later
  *    consumer to a full re-derivation. Measured at sf0.1: q100's repeats
  *    went 0.3 s (artifact read) → 3.3 s (full LSH+CC re-run per repeat)
  *    when a sweep dropped the cached entry.
  *  - Parquet survives sweeps, session cache pressure, and (on a shared
  *    filesystem) executor loss; the read path is partition-pruned,
  *    column-pruned scan speed like any other table.
  *
  * Artifacts land under `graft.textcache.dir` (Spark conf) when set —
  * REQUIRED on a real cluster, pointing at a shared filesystem the
  * executors can read — else under a java temp dir (correct for
  * local[n]). Either way each SESSION owns a unique subdirectory
  * (`graft-textcache-<uuid>`), so concurrent sessions sharing one
  * configured dir never overwrite each other's live artifacts, and
  * cleanup only ever deletes graft-created paths, never the user's
  * directory. Deletion goes through the Hadoop FileSystem API (the
  * [[Checkpoints.release]] discipline), so remote roots (hdfs://, s3a://)
  * are reclaimed too — `java.io.File` would silently strand them.
  *
  * Lifecycle: session-local artifacts are deleted at application end
  * (listener below) or on `release(spark)`. Release deletes the FILES —
  * DataFrames handed out before it become invalid readers (there is no
  * lineage to recompute an artifact); call it only when no consumer still
  * holds a form. Fresh accessor calls after release rebuild
  * transparently. Artifacts in the CROSS-SESSION tier
  * ([[SharedDirConfKey]]) are never deleted by graft — surviving the
  * session is their purpose; see the key's scaladoc for the fingerprint
  * keying, lock discipline, and retention contract.
  *
  * MEASURED (round 4, sf0.1 at local[32]) and deliberately NOT wired into
  * the declared bench queries: for the tok/gram forms the materialized
  * read path (array-column scan + the codegen boundary it introduces)
  * costs MORE than recomputing the codegen'd ShingleIds/split over parquet
  * strings — q85 1.21→1.38 s, q86 1.27→1.58 s, q92 1.06→1.27 s with the
  * cache; nothing improved. The crossover favors materialization only
  * when derivation cost ≫ read cost — heavyweight tokenizers, or the
  * cluster-map tier (`form("cc94")`), where an LSH+verify+CC pass over
  * the whole corpus reduces to a few thousand rows. Use it there;
  * measure, don't guess.
  */
object TextCache {

  /** Spark conf key: base directory for materialized forms. Set it to a
    * shared filesystem path on cluster profiles (executors must read it);
    * defaults to a local java temp dir, correct for local[n]. Each session
    * creates its own unique subdirectory underneath. */
  val DirConfKey = "graft.textcache.dir"

  /** Spark conf key: base directory for the CROSS-SESSION artifact tier
    * (round 10, VERDICT item 6). Unset (the default), every session
    * builds its own artifacts under [[DirConfKey]] and deletes them at
    * application end — correct, but a second session rebuilds the
    * cc94/prefix artifacts from scratch, which at 100 TB is exactly the
    * cost the materialize-once argument exists to avoid. Set, completed
    * forms land under
    * `<base>/graft-textcache-shared/<corpusFingerprint>/<form>-v<N>`:
    *
    *  - keyed by a CONTENT FINGERPRINT of the fixture dir (sorted
    *    relative-path:length:mtime of every file — one filesystem
    *    listing, no data scan), so a changed corpus lands in a fresh
    *    subdirectory and stale artifacts are never read (invalidation
    *    by key, not by deletion);
    *  - single-writer via the PortalSync lock discipline (atomic
    *    create-if-absent of `<form>.lock`; only already-exists means
    *    "held" — permission/quota/FS errors propagate as themselves);
    *    the winner builds into a hidden temp dir and RENAMES it into
    *    place, so readers only ever see complete artifacts;
    *  - losers poll for the artifact up to [[SharedWaitMsKey]] ms and
    *    then fall back to a session-local build (duplicate work, never
    *    a wrong answer, never an indefinite wait on a crashed holder);
    *  - shared artifacts are deliberately NOT deleted at application
    *    end — surviving the session is their purpose; retention is
    *    [[gc]]'s job (keep-newest-N / max-age eviction of STALE
    *    fingerprint subdirs, never the live one).
    *
    * `-v<N>` is [[FormLayoutVersion]]: bump it when any built-in form's
    * derivation changes semantics, so upgraded code never reads a
    * stale-schema artifact from an older binary. */
  val SharedDirConfKey = "graft.textcache.shared.dir"

  /** Spark conf key: how long (ms) a session that lost the shared-build
    * lock polls for the winner's artifact before falling back to a
    * session-local build. Default 600000 (10 min) — at corpus scale the
    * build is minutes; locally specs set it to ~0 to exercise the
    * fallback. */
  val SharedWaitMsKey = "graft.textcache.shared.waitMs"

  private val FormLayoutVersion = 1

  // keyed by the session object itself (not a UUID) so two sessions never
  // share a materialized reader; the map only ever holds a handful of
  // them. Entries are evicted (and files deleted) when the owning
  // SparkContext ends — without that, a long-lived JVM churning sessions
  // would strand every dead session's artifacts unless callers remembered
  // release(spark).
  private val forms =
    TrieMap.empty[(SparkSession, String, String), Holder]

  private val roots = TrieMap.empty[SparkSession, String]

  private val hookedContexts =
    TrieMap.empty[org.apache.spark.SparkContext, Unit]

  private def hookCleanup(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    hookedContexts.getOrElseUpdate(sc, {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          forms.keys.filter(_._1.sparkContext eq sc)
            .foreach(forms.remove)
          roots.keys.filter(_.sparkContext eq sc).foreach { s =>
            roots.remove(s).foreach(r => deleteTree(s, r))
          }
          hookedContexts.remove(sc)
        }
      })
    })
  }

  /** Delete a graft-created artifact tree via the Hadoop FileSystem API —
    * works for local AND remote (hdfs://, s3a://) roots, doesn't follow
    * local symlinks file-by-file, and is a no-op on already-gone paths.
    * Guarded to graft-created names so a misconfiguration can never wipe
    * a user directory. */
  private def deleteTree(spark: SparkSession, path: String): Unit = {
    require(path.contains("graft-textcache-"),
      s"refusing to delete non-textcache path $path")
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  /** This session's unique artifact root: a fresh
    * `graft-textcache-<uuid>` directory under the configured base (or the
    * java temp dir). Unique per session so concurrent sessions sharing
    * one configured base never clobber each other.
    *
    * ENFORCED (round 8): on a non-local master the conf is REQUIRED —
    * the java-temp fallback is a driver-local path that executors would
    * resolve to per-machine local disks, silently breaking every
    * materialized read. Failing the first materialization beats
    * debugging partial artifact reads on a cluster.
    */
  private def root(spark: SparkSession): String =
    roots.synchronized {
      roots.getOrElseUpdate(spark, {
        val unique = s"graft-textcache-${java.util.UUID.randomUUID()}"
        spark.conf.getOption(DirConfKey) match {
          case Some(base) => s"${base.stripSuffix("/")}/$unique"
          case None =>
            require(spark.sparkContext.isLocal,
              s"TextCache on a non-local master requires spark conf " +
                s"'$DirConfKey' to point at a shared filesystem the " +
                "executors can read; the java-temp fallback is driver-" +
                "local and would break materialized reads")
            java.nio.file.Files
              .createTempDirectory("graft-textcache-").toString
        }
      })
    }

  // Builds are once-per-(session, sf, form). Each key holds a lazy
  // Holder: TrieMap.getOrElseUpdate may construct a losing Holder under a
  // race (cheap — its lazy body never runs), but exactly one wins the
  // insert, and the build runs once under THAT holder's own lazy-val
  // monitor. Cache hits stay lock-free, and a thread materializing an
  // expensive form no longer stalls unrelated sessions'/forms' builds
  // the way the previous single global synchronized did.
  private final class Holder(build: () => DataFrame) {
    lazy val df: DataFrame = build()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** Content fingerprint of a fixture dir for the shared tier: MD5 over
    * the sorted `relativePath:length:mtime` lines of every file under it
    * — one recursive filesystem listing, no data scan. A re-crawled or
    * appended corpus changes length/mtime of at least one file, so its
    * artifacts key to a fresh subdirectory (stale invalidation by key).
    */
  def corpusFingerprint(spark: SparkSession, sfDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(sfDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val prefix = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(prefix)
      lines += s"$rel:${st.getLen}:${st.getModificationTime}"
    }
    md5hex(lines.sorted.mkString("\n"))
  }

  /** Shared-tier materialization (see [[SharedDirConfKey]]): read the
    * completed artifact if present; else take the single-writer lock,
    * build into a hidden temp dir, rename into place; on a held lock,
    * poll then fall back to a session-local build.
    *
    * Lock-atomicity caveat (ADVICE r10): `create(path, overwrite=false)`
    * is atomic on HDFS but CHECK-THEN-CREATE on Hadoop's
    * RawLocalFileSystem, so on a local filesystem two sessions racing
    * within the check window can both "acquire". The dest re-check after
    * acquire and the rename-refuses-onto-existing fallback bound the
    * worst case at a duplicate build — never a wrong or partial artifact.
    * A JVM crash mid-build leaves its `.build-*` temp dir behind; the
    * next same-form winner sweeps crashed siblings OLDER THAN AN HOUR
    * after its rename (age-guarded precisely because the local-FS lock
    * may not have serialized same-form builders — a fresh sibling can be
    * a live racer's in-flight write), and [[gc]] clears the rest. */
  private def sharedMaterialize(spark: SparkSession, sfDir: String,
                                form: String, sharedBase: String)(
      build: => DataFrame): DataFrame = {
    val fp = corpusFingerprint(spark, sfDir)
    val destStr = s"${sharedBase.stripSuffix("/")}/graft-textcache-shared/" +
      s"$fp/$form-v$FormLayoutVersion"
    val dest = new org.apache.hadoop.fs.Path(destStr)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dest)) return Sources.readParquet(spark, destStr)
    val lock = new org.apache.hadoop.fs.Path(destStr + ".lock")
    // PortalSync discipline: only already-exists means "held"
    val acquired =
      try { fs.create(lock, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
          false
      }
    if (acquired) {
      try {
        if (fs.exists(dest)) // raced a winner
          Sources.readParquet(spark, destStr)
        else {
          val tmp = new org.apache.hadoop.fs.Path(
            s"${dest.getParent}/.build-$form-v$FormLayoutVersion-" +
              java.util.UUID.randomUUID())
          build.write.mode("overwrite").parquet(tmp.toString)
          if (!fs.rename(tmp, dest)) {
            // rename refuses when dest appeared concurrently (shouldn't
            // under the lock) — any other refusal is a real FS problem
            if (!fs.exists(dest)) sys.error(
              s"TextCache shared artifact rename $tmp -> $dest failed")
            fs.delete(tmp, true)
          }
          // sweep same-form temp dirs stranded by CRASHED prior builders
          // — AGE-GUARDED (review r11): on a local FS the lock is
          // check-then-create, so a racing live builder of the same form
          // can exist; deleting its in-flight temp dir would upgrade the
          // documented duplicate-build worst case to a failed query. A
          // crashed builder's dir is old by the time the next winner
          // runs; a live racer's is minutes fresh. One hour matches
          // [[gc]]'s in-flight guard.
          val now = System.currentTimeMillis()
          val stale = try fs.globStatus(new org.apache.hadoop.fs.Path(
            s"${dest.getParent}/.build-$form-v$FormLayoutVersion-*"))
          catch { case _: java.io.IOException => null }
          Option(stale).getOrElse(Array.empty)
            .filter(st => now - st.getModificationTime > 3600000L)
            .foreach(st => fs.delete(st.getPath, true))
          Sources.readParquet(spark, destStr)
        }
      } finally { fs.delete(lock, false); () }
    } else {
      val waitMs = spark.conf.getOption(SharedWaitMsKey)
        .map(_.toLong).getOrElse(600000L)
      val deadline = System.nanoTime() + waitMs * 1000000L
      while (!fs.exists(dest) && System.nanoTime() < deadline)
        Thread.sleep(50)
      if (fs.exists(dest)) Sources.readParquet(spark, destStr)
      else {
        System.err.println(s"[textcache] shared build of $form is locked " +
          s"by $lock and no artifact appeared within ${waitMs} ms — " +
          "building session-locally (duplicate work, not an error); if " +
          "the lock holder crashed, delete the lock file")
        sessionLocalMaterialize(spark, sfDir, form)(build)
      }
    }
  }

  private def sessionLocalMaterialize(spark: SparkSession, sfDir: String,
                                      form: String)(
      build: => DataFrame): DataFrame = {
    // one path per (sf dir, form); the sf dir component is digested so
    // two fixture dirs never collide under one session root
    val path = s"${root(spark)}/${md5hex(sfDir)}/$form"
    build.write.mode("overwrite").parquet(path)
    Sources.readParquet(spark, path)
  }

  private def getOrMaterialize(spark: SparkSession, sfDir: String,
                               form: String)(
      build: => DataFrame): DataFrame =
    forms.getOrElseUpdate((spark, sfDir, form), new Holder(() => {
      hookCleanup(spark)
      spark.conf.getOption(SharedDirConfKey) match {
        case Some(sharedBase) =>
          sharedMaterialize(spark, sfDir, form, sharedBase)(build)
        case None => sessionLocalMaterialize(spark, sfDir, form)(build)
      }
    })).df

  /** The documents table. NOT materialized — the source is already a
    * columnar parquet scan, so a copy would cost a full-corpus write for
    * a read path no faster than the original. Memoized only so repeated
    * calls share one analyzed plan. */
  def base(spark: SparkSession, sfDir: String): DataFrame =
    forms.getOrElseUpdate((spark, sfDir, "base"), new Holder(() => {
      hookCleanup(spark)
      Tables.documents(spark, sfDir)
    })).df

  /** (doc_id, lang, tok): sorted distinct xxhash64 token ids — the interned
    * form consumed by the Jaccard verify loops (q81/q85/q94).
    */
  def tokenIds(spark: SparkSession, sfDir: String): DataFrame =
    getOrMaterialize(spark, sfDir, "tok")(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"),
        Dedup.tokenIds(col("text")).as("tok")))

  /** (doc_id, lang, g): sorted distinct xxhash64 word-n-gram ids (empty for
    * docs shorter than n tokens) — the interned shingle form (q86).
    */
  def gramIds(spark: SparkSession, sfDir: String, n: Int): DataFrame =
    getOrMaterialize(spark, sfDir, s"gram$n")(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"),
        Dedup.gramIds(col("text"), n).as("g")))

  /** Generic memoized form for derivations whose cost dwarfs their
    * materialized-read cost — the documented crossover case above. The
    * pair / cluster tier is the canonical example: an LSH+verify+connected-
    * components pass over the whole corpus reduces to a few thousand
    * (id, component) rows, so every consumer after the first reads a tiny
    * materialized table instead of re-running the most expensive pipeline
    * in the engine. Names share the namespace of the built-in forms — pick
    * unique ones.
    */
  def form(spark: SparkSession, sfDir: String, name: String)(
      build: => DataFrame): DataFrame =
    getOrMaterialize(spark, sfDir, name)(build)

  /** Forget every materialized form belonging to `spark` and delete its
    * artifact files. Frames handed out BEFORE release become invalid
    * readers (artifacts have no lineage to recompute) — call this only
    * when no consumer still holds one AND no build is in flight (an
    * in-flight build counts as a consumer: release mid-write strands a
    * reader over deleted files). Fresh accessor calls rebuild
    * transparently. */
  def release(spark: SparkSession): Unit = synchronized {
    forms.keys.filter(_._1 eq spark).foreach(forms.remove)
    roots.synchronized {
      roots.remove(spark).foreach(r => deleteTree(spark, r))
    }
  }

  /** Retention for the CROSS-SESSION shared tier (round 11, VERDICT item
    * 5): evict STALE corpus-fingerprint subdirs under
    * `<sharedBase>/graft-textcache-shared/`, keeping
    *
    *  - every fingerprint in `protectSfDirs`'s current content (the live
    *    corpora — computed with [[corpusFingerprint]], so a reader of a
    *    live artifact is never affected regardless of `keepN`). This
    *    protection only covers corpora the CALLER enumerates:
    *    `protectSfDirs` is deliberately a required parameter (ADVICE
    *    r11) because a fingerprint dir built more than `maxAgeMs` ago
    *    that some OTHER long-lived session still actively reads is
    *    evicted — failing that session's in-flight queries, not merely
    *    forcing a rebuild — whenever its corpus is omitted here. Pass
    *    every corpus any live session may be reading,
    *  - the `keepN` most-recently-modified remaining subdirs,
    *  - anything younger than `maxAgeMs` (default 1 h: a fingerprint
    *    another session is actively building into is not yanked from
    *    under it — size maxAge at least at the build time; `<= 0`
    *    disables the age protection, for tests and forced sweeps).
    *
    * Also sweeps crashed builders' `.build-*` temp dirs and orphaned
    * `*.lock` files INSIDE surviving fingerprint dirs once they are
    * older than `debrisAgeMs` — a SEPARATE knob from `maxAgeMs` (review
    * r11: a forced stale-dir sweep with `maxAgeMs <= 0` must not also
    * delete the lock/temp of a build that is running RIGHT NOW; and a
    * legitimately long build needs a debris threshold sized to build
    * time, not to retention policy). `debrisAgeMs <= 0` force-deletes
    * live locks too — tests only.
    *
    * Lock-safe by the tier's own invariants: completed artifacts are
    * immutable (rename-into-place), eviction is whole-subdir deletion of
    * fingerprints no current corpus resolves to, and invalidation is by
    * KEY — a deleted stale fingerprint can only be re-requested by a
    * corpus that changed back, which rebuilds transparently. Returns the
    * deleted paths.
    */
  def gc(spark: SparkSession, sharedBase: String,
         protectSfDirs: Seq[String], keepN: Int = 4,
         maxAgeMs: Long = 3600000L,
         debrisAgeMs: Long = 6 * 3600000L): Seq[String] = {
    val rootStr = s"${sharedBase.stripSuffix("/")}/graft-textcache-shared"
    val rootPath = new org.apache.hadoop.fs.Path(rootStr)
    val fs = rootPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Nil
    val now = System.currentTimeMillis()
    val live = protectSfDirs.map(corpusFingerprint(spark, _)).toSet
    val subs = fs.listStatus(rootPath).filter(_.isDirectory)
    val (protected_, candidates) =
      subs.partition(st => live.contains(st.getPath.getName))
    val stale = candidates.sortBy(-_.getModificationTime).drop(keepN)
      .filter(st => now - st.getModificationTime > maxAgeMs)
    val deletedDirs = stale.map { st =>
      fs.delete(st.getPath, true)
      st.getPath.toString
    }
    // crashed-builder debris inside SURVIVING fingerprint dirs
    val debris = (protected_ ++ candidates.sortBy(-_.getModificationTime)
      .take(keepN)).flatMap { st =>
      fs.listStatus(st.getPath).filter { f =>
        val n = f.getPath.getName
        (n.startsWith(".build-") || n.endsWith(".lock")) &&
          now - f.getModificationTime > debrisAgeMs
      }.map { f => fs.delete(f.getPath, true); f.getPath.toString }
    }
    (deletedDirs ++ debris).toSeq
  }
}
