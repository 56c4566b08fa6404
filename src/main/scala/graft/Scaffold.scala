package graft

/** Shared scaffolding for per-JVM derived state (table schemas, trained
  * centroids, at-rest index copies, staged stream splits): one
  * fingerprint-keyed cache ([[Derived]]), source content fingerprints,
  * and temp directories removed at JVM exit. One implementation each, so
  * no two callers' rules drift apart.
  *
  * The cache rule, stated once: a derived value is keyed by its source
  * path, the source's [[fingerprint]] taken on every lookup, and the
  * caller's own key. An in-place rewrite of the source changes the
  * fingerprint, so the next lookup derives afresh and never serves a
  * value of the old content. Only metadata and scaffolding are cached
  * this way, never query results: every run still computes from its
  * inputs. */
private[graft] object Scaffold {

  /** Values derived from a source path, one per (source, fingerprint,
    * key) per JVM. A `TrieMap`, not `ConcurrentHashMap.computeIfAbsent`:
    * a derivation may look up another derived value (a stored-index
    * write reads its table through [[graft.ops.Tables.table]]), and a
    * recursive `computeIfAbsent` on one map throws. Racing threads may
    * both derive; one value wins, and a loser's [[tempDir]] is already
    * registered for cleanup. */
  final class Derived[K, V] {
    private val values =
      scala.collection.concurrent.TrieMap.empty[(String, String, K), V]

    def apply(src: String, key: K)(derive: => V): V =
      values.getOrElseUpdate((src, fingerprint(src), key), derive)
  }

  /** Content fingerprint of a parquet file or directory: file count plus
    * sorted part names with lengths, mtimes, and a head/tail byte probe.
    * The probe (first+last 16 bytes per part — for parquet, the magic and
    * the footer length + magic) closes the mtime-granularity hole: an
    * in-place same-length rewrite landing in the same lastModified tick
    * (ms, or whole seconds on some filesystems) still changes the footer
    * metadata offset with near-certainty. Still cheap: one listing plus
    * two small reads per part. */
  def fingerprint(path: String): String = {
    val f = new java.io.File(path)
    val files =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName) else Seq(f)
    val parts = files.map(x =>
      s"${x.getName}:${x.length}:${x.lastModified}:${headTailProbe(x)}")
    s"n=${files.size}|" + parts.mkString("|")
  }

  /** Hex of the first and last 16 bytes of a regular file (empty for
    * directories / unreadable files — their children are listed by the
    * caller's own fingerprints where relevant). */
  private def headTailProbe(f: java.io.File): String = {
    if (!f.isFile) return ""
    try {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val n = raf.length()
        def read(at: Long, len: Int): Array[Byte] = {
          val buf = new Array[Byte](len)
          raf.seek(at); raf.readFully(buf); buf
        }
        val head = read(0, math.min(16L, n).toInt)
        val tail = read(math.max(0L, n - 16), math.min(16L, n).toInt)
        (head ++ tail).map(b => f"${b & 0xff}%02x").mkString
      } finally raf.close()
    } catch { case scala.util.control.NonFatal(_) => "unreadable" }
  }

  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    cleanupDirs.forEach(d => deleteRecursively(new java.io.File(d)))
  }))

  /** Register a scaffolding temp dir for JVM-exit removal. Register the
    * dir IMMEDIATELY after creating it — before any racy cache insert —
    * so a thread that loses a cache race still gets its orphan cleaned. */
  def cleanupOnExit(dir: String): String = { cleanupDirs.add(dir); dir }

  /** A new temp directory, already registered for JVM-exit removal. */
  def tempDir(prefix: String): String =
    cleanupOnExit(java.nio.file.Files.createTempDirectory(prefix).toString)

  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }
}
