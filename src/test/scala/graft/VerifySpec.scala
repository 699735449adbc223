package graft

import java.io.File
import java.nio.file.Files

/** `graft.Verify` deletes the work dirs its own oracle entries staged
  * (`graft_<entry>_<pid>`) and nothing else.
  */
class VerifySpec extends SparkSpec {

  test("deleteWorkDirs removes this pid's graft_ dirs, keeps other pids' " +
      "and never follows a symlink out") {
    val tmp = new File(tmpDir("verify-workdirs"))
    val outside = new File(tmpDir("verify-outside"))
    Files.writeString(new File(outside, "keep.txt").toPath, "source data")
    def dir(name: String): File = {
      val d = new File(tmp, name)
      new File(d, "t").mkdirs()
      Files.writeString(new File(d, "t/part-0").toPath, "x")
      d
    }
    val own = Seq(dir("graft_q_dedup_clusters_4242"), dir("graft_streamcdc_4242"))
    Files.createSymbolicLink(new File(own.head, "link").toPath, outside.toPath)
    val kept = Seq(dir("graft_q_dedup_clusters_14242"), dir("graft_q_x_4243"),
      dir("other_4242"))
    Verify.deleteWorkDirs(tmp, 4242L)
    assert(own.forall(!_.exists()), "this pid's work dirs must be gone")
    assert(kept.forall(_.exists()), "other pids' and non-graft dirs stay")
    assert(new File(outside, "keep.txt").exists(), "a symlink target is never deleted")
  }
}
