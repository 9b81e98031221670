package graft

import java.util.concurrent.ConcurrentMap
import org.scalatest.funsuite.AnyFunSuite

/** Every stored artifact resolves through [[StoredArtifact]], which
  * owns the naming, memo key, re-entry and lock rules. An operator
  * that keeps its own concurrent map is a hand-rolled store memo; this
  * spec finds it in the compiled classes. */
class StoredArtifactGuardSpec extends AnyFunSuite {
  test("no class under graft.operators declares a concurrent map field") {
    val loader = getClass.getClassLoader
    val offenders = EntryPointSpec.mainClasses
      .filter(_.startsWith("graft.operators."))
      .flatMap { n =>
        Class.forName(n, false, loader).getDeclaredFields
          .filter(f => classOf[ConcurrentMap[_, _]].isAssignableFrom(f.getType))
          .map(f => s"$n.${f.getName}")
      }
    assert(offenders.isEmpty,
      s"store memos outside StoredArtifact: ${offenders.mkString(", ")}")
  }
}
