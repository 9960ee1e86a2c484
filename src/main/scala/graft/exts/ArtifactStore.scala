package graft.exts

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Shared store for persisted index artifacts (BM25 postings, DSIR
  * score table, kNN edge list, ...) — the build-once / serve-many
  * lifecycle the reference applies to its table-maintenance outputs
  * (AwsTableManagementMetricsEvaluator.java:108-140 accumulates events,
  * crosses a threshold, rebuilds, and every later reader picks up the
  * committed result), lifted to the engine's own derived structures.
  *
  * Design constraints this object owns (previously scattered per-index):
  *
  *  - '''Configurable root on ANY registered filesystem (r16).''' All
  *    store IO resolves through the Hadoop `FileSystem` API — the same
  *    seam the reference reaches through Iceberg's FileIO
  *    (BaseEmrOptimizeDataExecutor.java:82-89) and the one
  *    [[graft.stream.LoopCore]] adopted this round — so
  *    `spark.graft.artifactRoot` may name a local mount, HDFS, or an
  *    object-store connector (`scheme://…`); an UNREGISTERED scheme
  *    still fails loudly at [[root]] rather than resolving as a
  *    relative local path. The default remains a per-user directory
  *    created `rwx------` under the JVM tmpdir — never a
  *    world-writable shared path another local user could pre-plant
  *    artifacts in.
  *  - '''Identity is verified, not assumed.''' The artifact directory
  *    name embeds the sanitized corpus dir plus a 128-bit MD5 of the
  *    exact dir string and the [[graft.Tables.version]] snapshot token,
  *    and a `_MANIFEST.json` inside the artifact records the full
  *    (kind, dir, variant, version) tuple. [[resolve]] trusts an
  *    existing directory only after the manifest round-trips — a path
  *    collision or a planted directory without a matching manifest is
  *    rebuilt, never served.
  *  - '''Publication is manifest-committed, payload first.''' A build
  *    writes into a fresh staging directory (unique per attempt,
  *    sibling of the target so it shares the target's filesystem), the
  *    payload renames into place, and the manifest is written LAST as
  *    one small object — so a manifest can never be observed before
  *    its payload on ANY store: on POSIX/HDFS the dir rename is atomic
  *    and the manifest create follows it; on an object store the
  *    "rename" materializes payload objects first and the manifest PUT
  *    (whole-object visibility) is the commit marker [[ready]] gates
  *    on. Two JVMs racing the same build both run to completion: builds
  *    are deterministic functions of the snapshot, so whichever
  *    payload+manifest pair lands last is bit-identical to the other.
  *
  * In-process memo only skips the filesystem probe; cross-session and
  * cross-job reuse go through the directory + manifest.
  */
object ArtifactStore {

  /** Conf key for the artifact root (lake deployments set this). */
  val RootConf = "spark.graft.artifactRoot"

  /** Conf key (ms) bounding how long [[resolve]] awaits a CROSS-JVM
    * racer's in-flight publish before failing loud — on an object store
    * the winner's payload "rename" is a server-side copy whose duration
    * scales with artifact size, so the bound must be deployment-tunable
    * rather than a fixed few hundred ms. */
  val PublishWaitConf = "spark.graft.artifactPublishWaitMs"
  private val DefaultPublishWaitMs = 30000L

  private final case class Key(root: String, kind: String, dir: String,
      variant: String, version: Long)

  private val memo = new ConcurrentHashMap[Key, String]()

  /** Session Hadoop conf — falls back from the thread-local active
    * session to the JVM-global default session, so a filesystem first
    * resolved from a non-session thread still carries the session's
    * `spark.hadoop.*` settings into Hadoop's (scheme, authority,
    * UGI)-keyed FileSystem cache (the [[graft.stream.LoopCore]] rule). */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Resolve a path string to its (FileSystem, Path) — the single seam
    * every store IO call goes through (shared with the index families'
    * own small byte-stream artifacts, e.g. [[BloomIndex]]). */
  private[graft] def resolvePath(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(hadoopConf), p)
  }

  /** The store root: `spark.graft.artifactRoot` if set, else a per-user
    * `rwx------` directory under tmpdir. A URI root is accepted iff its
    * scheme resolves to a registered Hadoop FileSystem — an unknown
    * scheme fails HERE with a named error (the failure mode that would
    * otherwise land every "shared" artifact on whichever host ran the
    * job while cross-job sharing silently broke). `file://` URIs are
    * stripped to plain paths (same filesystem, shorter keys). */
  def root(spark: SparkSession): String =
    spark.conf.getOption(RootConf).map { r =>
      if (r.startsWith("file://")) r.stripPrefix("file://")
      else if (r.contains("://")) {
        try { new HPath(r).getFileSystem(hadoopConf); r }
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"graft.artifactStore: $RootConf=$r names a URI root whose " +
              "scheme has no registered Hadoop FileSystem in this " +
              "session — artifacts would silently not be shared. " +
              s"Register fs.<scheme>.impl or use a mounted path. (${e.getMessage})")
        }
      } else r
    }.getOrElse {
      val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-indexes-${sys.props("user.name")}")
      ensureRestricted(p)
      p.toString
    }

  private def ensureRestricted(p: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(p)) {
      try {
        import java.nio.file.attribute.PosixFilePermissions
        java.nio.file.Files.createDirectories(p,
          PosixFilePermissions.asFileAttribute(
            PosixFilePermissions.fromString("rwx------")))
      } catch {
        case _: UnsupportedOperationException => // non-POSIX FS
          java.nio.file.Files.createDirectories(p)
      }
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def sanitize(s: String): String = {
    val cleaned = s.map(c =>
      if (c.isLetterOrDigit || c == '.' || c == '-') c else '_')
    if (cleaned.length > 64) cleaned.takeRight(64) else cleaned
  }

  /** Final artifact directory for (kind, dir, variant, version) under
    * `root` — human-readable tail of the corpus dir plus a 128-bit hash
    * of the exact string, so distinct dirs can never alias. */
  private[graft] def entryPath(root: String, kind: String, dir: String,
      variant: String, version: Long): String = {
    val v = if (variant.isEmpty) "" else s"-$variant"
    s"$root/$kind/${sanitize(dir)}-${md5hex(dir)}$v-v$version"
  }

  /** The entry path an artifact for this identity WOULD commit to —
    * computed without probing or building. Index families use it as a
    * stable session-memo key (and as the seam an explicit install can
    * pre-seed without forcing a store build). */
  private[graft] def locate(spark: SparkSession, kind: String, dir: String,
      version: Long, variant: String = ""): String =
    entryPath(root(spark), kind, dir, variant, version)

  private def manifestJson(kind: String, dir: String, variant: String,
      version: Long): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    }
    s"""{"kind":"${esc(kind)}","dir":"${esc(dir)}",""" +
      s""""variant":"${esc(variant)}","version":$version}"""
  }

  private def readString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](8192)
      var n = in.read(b)
      while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeString(fs: FileSystem, p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** True iff `p` holds a COMMITTED artifact for exactly this
    * (kind, dir, variant, version) — the manifest must exist and
    * round-trip the full identity tuple. */
  private[graft] def ready(p: String, kind: String, dir: String,
      variant: String, version: Long): Boolean = {
    val (fs, mp) = resolvePath(s"$p/_MANIFEST.json")
    fs.exists(mp) &&
      readString(fs, mp) == manifestJson(kind, dir, variant, version)
  }

  /** Resolve the artifact directory for (kind, dir, variant, version),
    * building it via `build` on first use. `build` receives a private
    * staging directory to write into; publication (payload rename, then
    * manifest written LAST) is handled here. Returns the committed
    * directory path.
    *
    * Deliberately get-then-publish rather than `computeIfAbsent`: a
    * build may itself resolve ANOTHER artifact (the components
    * artifact builds over the edge artifact), and a nested
    * computeIfAbsent on one ConcurrentHashMap throws "recursive
    * update" whenever the two keys share a bin. Two threads racing the
    * same key may both build — deterministic builds plus the
    * manifest-last commit make that safe (see the class doc). */
  /** Per-key publish locks: IN-PROCESS races on one key serialize (two
    * queries resolving the same artifact in one JVM is the common
    * case); cross-JVM races rely on deterministic builds + the
    * two-rename commit below. */
  private val publishLocks = new ConcurrentHashMap[Key, Object]()

  def resolve(spark: SparkSession, kind: String, dir: String,
      version: Long, variant: String = "")(build: String => Unit): String = {
    val r = root(spark)
    val key = Key(r, kind, dir, variant, version)
    val cached = memo.get(key)
    if (cached != null) return cached
    val fin = entryPath(r, kind, dir, variant, version)
    if (!ready(fin, kind, dir, variant, version)) {
      val (fs, finP) = resolvePath(fin)
      fs.mkdirs(finP.getParent)
      val staging = new HPath(finP.getParent,
        s"${finP.getName}.staging-${java.util.UUID.randomUUID()}")
      try {
        fs.mkdirs(staging)
        // the build runs OUTSIDE the publish lock (it may itself
        // resolve another artifact); the manifest rides in staging
        // under a name ready() does not match, so the payload rename
        // can never expose a committed-looking entry early
        build(staging.toString)
        writeString(fs, new HPath(staging, "_MANIFEST.staged"),
          manifestJson(kind, dir, variant, version))
        val lock = publishLocks
          .computeIfAbsent(key, _ => new Object)
        lock.synchronized {
          if (!ready(fin, kind, dir, variant, version)) {
            // a directory at the target that FAILS the manifest check
            // is not an artifact (planted, collided, or torn by a
            // crashed attempt) — clear it so the payload rename lands
            if (fs.exists(finP)) fs.delete(finP, true)
            if (fs.rename(staging, finP)) {
              // COMMIT: one single-file rename — atomic on POSIX/HDFS,
              // whole-object-visible on object stores — is the marker
              // ready() gates on, and it happens strictly AFTER every
              // payload byte is in place. rename reports failure by
              // returning false — checked, so OUR failed commit aborts
              // here by name instead of surfacing later as a
              // misleading cross-JVM-wait timeout
              require(fs.rename(new HPath(finP, "_MANIFEST.staged"),
                new HPath(finP, "_MANIFEST.json")),
                s"graft.artifactStore: manifest commit rename failed " +
                  s"under $finP — payload landed but the artifact is " +
                  "uncommitted")
            }
            // a failed payload rename means a cross-JVM winner landed
            // between our check and rename — verified below; its
            // artifact is bit-identical (deterministic builds)
          }
        }
      } finally if (fs.exists(staging)) fs.delete(staging, true)
      // a cross-JVM racer may be between its payload rename and its
      // manifest commit — on an object store that "rename" is a
      // server-side copy that can take far longer than a fixed few
      // hundred ms for a large artifact, so the wait is CONFIGURABLE
      // ([[PublishWaitConf]], default 30 s) with exponential backoff,
      // and the await is announced rather than silent
      val deadline = System.nanoTime() +
        spark.conf.getOption(PublishWaitConf).map(_.toLong)
          .getOrElse(DefaultPublishWaitMs) * 1000000L
      var sleepMs = 200L
      var announced = false
      while (!ready(fin, kind, dir, variant, version) &&
          System.nanoTime() < deadline) {
        if (!announced) {
          System.err.println(s"[graft.artifactStore] awaiting a " +
            s"cross-JVM publish of $kind($dir, $variant, v$version) — " +
            s"payload landed by another writer, manifest pending")
          announced = true
        }
        Thread.sleep(sleepMs)
        sleepMs = math.min(sleepMs * 2, 2000L)
      }
      require(ready(fin, kind, dir, variant, version),
        s"artifact publish failed for $kind($dir, $variant, v$version)" +
          (if (announced) s" after awaiting a cross-JVM winner for " +
            s"${spark.conf.getOption(PublishWaitConf)
              .getOrElse(DefaultPublishWaitMs.toString)} ms — raise " +
            s"$PublishWaitConf if the store's copy is slower" else ""))
    }
    memo.putIfAbsent(key, fin)
    fin
  }

  /** Session-scoped reader memo for COMMITTED artifact parquet (r18).
    * `spark.read.parquet` re-lists and re-reads footers on every call —
    * 50-200 ms per frame (OPTIMIZATION_r18.md §1-2) that artifact-backed
    * queries paid on each invocation (bm25_batch alone reads three frames).
    * An entry's payload is write-once (atomic publish; a corpus rewrite mints
    * a NEW version-keyed path), so the resolved plan is reusable with no
    * version walk; [[evict]]/[[sweep]]/[[clear]] drop matching
    * entries so a deleted-and-rebuilt path resolves fresh. WRITE-ONCE
    * is a requirement on callers of the public load() entry points
    * (Bm25Index/LmIndex/…): an in-place parquet overwrite at the same
    * path within a session would serve a stale file index — store-
    * minted paths are version-keyed so internal use can never hit
    * this; external doctoring must go through evict()/clear() (the
    * ArtifactStoreSpec seam). Metadata only — every execution still
    * scans the parquet bytes. Eviction is EXPLICIT ([[SessionMemo]],
    * r18 ADVICE): weak session keys could never collect, because the
    * cached DataFrames strongly reference their own session. */
  private val readMemo =
    new graft.SessionMemo[org.apache.spark.sql.DataFrame](
      maxPerSession = 512)

  def readCached(spark: SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    readMemo.map(spark)
      .computeIfAbsent(path, p => spark.read.parquet(p))

  private def dropReads(pathPrefix: String): Unit =
    readMemo.forEachMap(_.keySet.removeIf(_.startsWith(pathPrefix)))

  /** Evict ONE committed entry (its directory and the memo key) — the
    * scoped form Bench's cold pass uses: it drops exactly the bench
    * corpus's own (kind, dir, variant, version) artifact and never
    * touches other corpora or jobs sharing the store. */
  def evict(spark: SparkSession, kind: String, dir: String,
      version: Long, variant: String = ""): Unit = {
    val r = root(spark)
    memo.remove(Key(r, kind, dir, variant, version))
    val entry = entryPath(r, kind, dir, variant, version)
    dropReads(entry)
    val (fs, p) = resolvePath(entry)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Garbage-collect SUPERSEDED entries of one (kind, dir, variant):
    * every committed entry whose version differs from `keepVersion` is
    * removed — the store's retention sweep (the expire_snapshots role:
    * each corpus rewrite mints a fresh version-keyed entry, and without
    * a sweep the store grows one dead index per rewrite forever).
    * Scoped exactly like [[evict]]: only directories whose manifest
    * round-trips THIS (kind, dir, variant) at some other version are
    * candidates — a hash-prefix coincidence, another corpus, or a
    * staging dir in flight is never touched. Returns the number of
    * entries removed. */
  def sweep(spark: SparkSession, kind: String, dir: String,
      keepVersion: Long, variant: String = ""): Int = {
    val r = root(spark)
    val (fs, kindDir) = resolvePath(s"$r/$kind")
    if (!fs.exists(kindDir) || !fs.getFileStatus(kindDir).isDirectory)
      return 0
    var removed = 0
    fs.listStatus(kindDir).filter(_.isDirectory).foreach { st =>
      val m = new HPath(st.getPath, "_MANIFEST.json")
      if (fs.exists(m)) {
        val got = readString(fs, m)
        val version = """"version":(-?\d+)""".r.findFirstMatchIn(got)
          .map(_.group(1).toLong)
        // identity check: the manifest must name exactly this
        // (kind, dir, variant) — at any version
        val mine = version.exists(v =>
          got == manifestJson(kind, dir, variant, v))
        if (mine && !version.contains(keepVersion)) {
          memo.remove(Key(r, kind, dir, variant, version.get))
          dropReads(st.getPath.toString)
          fs.delete(st.getPath, true)
          removed += 1
        }
      }
    }
    removed
  }

  /** Test seam: drop all memoized paths (on-disk artifacts remain —
    * use [[evict]] to remove those). */
  private[graft] def clear(): Unit = {
    memo.clear()
    readMemo.clear()
  }
}
