package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Bench records name the commit they timed: `Bench.headSha` reads it
  * from a git directory the way git resolves HEAD. */
class BenchSpec extends AnyFunSuite {

  private val sha1 = "0123456789abcdef0123456789abcdef01234567"
  private val sha2 = "89abcdef0123456789abcdef0123456789abcdef"

  private def gitDir(files: (String, String)*): java.io.File = {
    val d = Files.createTempDirectory("graft_git")
    files.foreach { case (name, body) =>
      val f = d.resolve(name)
      Files.createDirectories(f.getParent)
      Files.write(f, body.getBytes("UTF-8"))
    }
    d.toFile
  }

  test("headSha follows HEAD to a loose ref, a packed ref or a detached commit") {
    assert(Bench.headSha(gitDir("HEAD" -> "ref: refs/heads/main\n",
      "refs/heads/main" -> s"$sha1\n")) == sha1)
    assert(Bench.headSha(gitDir("HEAD" -> "ref: refs/heads/main\n",
      "packed-refs" -> s"# pack-refs with: peeled\n$sha2 refs/heads/other\n$sha1 refs/heads/main\n")) == sha1)
    assert(Bench.headSha(gitDir("HEAD" -> s"$sha2\n")) == sha2)
  }

  test("headSha reads unknown when there is no commit to name") {
    assert(Bench.headSha(new java.io.File(Files.createTempDirectory("graft_nogit").toFile, ".git")) == "unknown")
    assert(Bench.headSha(gitDir("HEAD" -> "ref: refs/heads/unborn\n")) == "unknown")
    assert(Bench.headSha(gitDir("HEAD" -> "not a sha\n")) == "unknown")
  }
}
