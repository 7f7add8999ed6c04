package graft

import graft.queries.BuildOnce

/** The shared build-once artifact cache: builds exactly once per
  * (name, source fingerprint, code digest), reattempts a crashed
  * half-build, rebuilds when the source file or the code changes, and
  * then deletes the artifact that rebuild superseded. */
class BuildOnceSpec extends SparkSpec {

  test("cached: one build per key, half-builds retried, fingerprint rotates with the source") {
    withTempDir("buildonce") { dir =>
      val src = new java.io.File(dir, "src.parquet")
      java.nio.file.Files.writeString(src.toPath, "v1")
      var builds = 0
      def build(p: String): Unit = {
        builds += 1
        new java.io.File(s"$p/artifact").mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$p/artifact/_SUCCESS"), "")
      }
      val p1 = BuildOnce.cached("spec-a", src)(p => s"$p/artifact/_SUCCESS")(build)
      val p2 = BuildOnce.cached("spec-a", src)(p => s"$p/artifact/_SUCCESS")(build)
      assert(p1 === p2)
      assert(builds === 1, "second call must serve the cached artifact")
      // a crashed half-build (no _SUCCESS) is re-attempted
      rmTree(new java.io.File(s"$p1/artifact/_SUCCESS"))
      BuildOnce.cached("spec-a", src)(p => s"$p/artifact/_SUCCESS")(build)
      assert(builds === 2, "a build without its _SUCCESS must be retried")
      // a DIFFERENT name is a different artifact even over the same source
      val pb = BuildOnce.cached("spec-b", src)(p => s"$p/artifact/_SUCCESS")(build)
      assert(pb !== p1)
      assert(builds === 3)
      // a regenerated source (length change) rotates the fingerprint,
      // and its build deletes the artifact it supersedes — but not
      // another name's, nor the same name's over another source
      val src2 = new java.io.File(dir, "src2.parquet")
      java.nio.file.Files.writeString(src2.toPath, "other")
      val pd = BuildOnce.cached("spec-a", src2)(p => s"$p/artifact/_SUCCESS")(build)
      assert(builds === 4)
      java.nio.file.Files.writeString(src.toPath, "v2-longer")
      val p3 = BuildOnce.cached("spec-a", src)(p => s"$p/artifact/_SUCCESS")(build)
      assert(p3 !== p1, "a regenerated source must not serve the stale artifact")
      assert(builds === 5)
      assert(!new java.io.File(p1).exists(), "the superseded artifact must be deleted")
      assert(new java.io.File(pb).exists() && new java.io.File(pd).exists())
      // the key folds in a digest of the code that builds: cached is
      // cachedFor the JVM's digest, and other code over the same
      // source and name gets a new path
      assert(BuildOnce.codeDigest.matches("[0-9a-f]{32}"))
      assert(BuildOnce.cachedFor(BuildOnce.codeDigest, "spec-a", src)(
        p => s"$p/artifact/_SUCCESS")(build) === p3)
      assert(builds === 5)
      val pc = BuildOnce.cachedFor("0" * 32, "spec-a", src)(
        p => s"$p/artifact/_SUCCESS")(build)
      assert(pc !== p3, "code built differently must not serve the stale artifact")
      assert(builds === 6)
      assert(!new java.io.File(p3).exists())
      // back on this JVM's code: rebuilt, and the other code's copy is gone
      assert(BuildOnce.cached("spec-a", src)(p => s"$p/artifact/_SUCCESS")(build) === p3)
      assert(builds === 7)
      assert(!new java.io.File(pc).exists(), "the superseded code's artifact must be deleted")
      assert(new java.io.File(pb).exists() && new java.io.File(pd).exists())
      // clean the tmpdir artifacts this spec created
      Seq(pb, pd, p3).foreach(p => rmTree(new java.io.File(p)))
    }
  }
}
