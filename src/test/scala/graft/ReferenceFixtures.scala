package graft

import java.nio.file.{Files, Paths => JPaths}
import org.scalatest.Assertions

/** The reference's golden `tests/data` fixtures (`Entity.json`,
  * `Property.json`, `test_filter.surql`), read in place from the
  * reference snapshot — the repository does not hold them (FIXTURES.md
  * §2). Tests whose assertions are goldens of these files take their
  * paths from `apply`, so where the snapshot is absent they are
  * reported CANCELED naming the missing file, and they run unchanged
  * wherever it is present. */
object ReferenceFixtures {

  val dir = "/root/reference/tests/data"

  /** `dir/name`; cancels the calling test when that file is absent. */
  def apply(name: String): String = {
    val path = s"$dir/$name"
    Assertions.assume(Files.isRegularFile(JPaths.get(path)),
      s"reference fixture $path absent")
    path
  }
}
