package graft.queries

/** The ONE build-once derived-artifact cache recipe, shared by every
  * warmup-able index/model build (persisted IVF, the BM25 indexes, the
  * DSIR model+weights — previously three hand-rolled copies that had
  * already started to drift): fingerprint the SOURCE parquet file
  * (path + mtime + length + build params) AND the code that builds
  * (a digest of graft's own jar or class files), so a regenerated
  * fixture at the same path or a rebuilt graft rebuilds instead of
  * silently serving stale data — no hand-kept version tag to forget;
  * root the artifact under the JVM tmpdir, like a real deployment's
  * index directory next to its table; keep ONE artifact per (name,
  * source path): a build deletes the ones it supersedes (an older
  * fixture or older code), so rebuilds do not pile up in the tmpdir;
  * serialize check-then-build JVM-wide so concurrent specs or bench
  * warmups cannot race the existence check. Cross-PROCESS builds of
  * the same key are not serialized, and a process running other code
  * over the same fixture and tmpdir deletes this one's artifact — the
  * fixture contract is one verify-at-a-time per machine (the Handoff
  * rule; give side-by-side runs their own `java.io.tmpdir`, as
  * perfbench does), and a real deployment builds indexes from one
  * scheduled job.
  */
object BuildOnce {

  /** Return the cache path for (`name`, fingerprint of `src` and of
    * the code), running `build(path)` first iff `done(path)` — the
    * path of the LAST file the build writes (its `_SUCCESS`) — does
    * not exist, so a crashed half-build is re-attempted, never served.
    * `name` must carry every build parameter that changes the artifact
    * (e.g. `ivf-k16`): it is part of both the directory name and the
    * key. The directory is `graft-<name>-<slot>-<version>`: the slot
    * hashes (source path, name), the version (source mtime and
    * length, code digest); once a build finishes, every other version
    * in its slot is deleted. */
  def cached(name: String, src: java.io.File)
            (done: String => String)(build: String => Unit): String =
    cachedFor(codeDigest, name, src)(done)(build)

  /** [[cached]] under an explicit code digest. */
  private[graft] def cachedFor(code: String, name: String, src: java.io.File)
                              (done: String => String)
                              (build: String => Unit): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val slot = s"graft-$name-${md5(s"${src.getPath}|$name").take(8)}-"
    val dir = slot + md5(s"${src.lastModified}|${src.length}|$code").take(16)
    lock.synchronized {
      if (!new java.io.File(done(s"$tmp/$dir")).exists()) {
        build(s"$tmp/$dir")
        Option(tmp.listFiles()).toSeq.flatten.filter { f =>
          f.getName != dir && f.getName.startsWith(slot) &&
            f.getName.substring(slot.length).matches("[0-9a-f]{16}")
        }.foreach(HybridQueries.rmTree)
      }
    }
    s"$tmp/$dir"
  }
  private val lock = new Object

  /** MD5 of graft's code source, computed once per JVM: the jar's
    * bytes, or every file under the classes directory (relative path
    * and bytes, in path order). */
  private[graft] lazy val codeDigest: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val root = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (java.nio.file.Files.isDirectory(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.filter(f => java.nio.file.Files.isRegularFile(f)).sorted()
        .forEachOrdered { f =>
          md.update(root.relativize(f).toString.getBytes("UTF-8"))
          md.update(java.nio.file.Files.readAllBytes(f))
        }
      finally walk.close()
    } else md.update(java.nio.file.Files.readAllBytes(root))
    hex(md.digest())
  }

  private def md5(s: String): String =
    hex(java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString
}
