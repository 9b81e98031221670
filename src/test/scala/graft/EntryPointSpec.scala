package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The program has six entry points: the two harness mains (`Verify`
  * checks correctness, `Bench` measures time in four modes) and four
  * fixture generators and recall tools. A new `main` is a new tool to
  * keep working; adding one means editing this list in review. */
class EntryPointSpec extends AnyFunSuite {
  test("the classes declaring public static void main(String[]) are " +
    "exactly the six entry points") {
    val root = Paths.get(Bench.getClass.getProtectionDomain.getCodeSource
      .getLocation.toURI)
    assert(Files.isDirectory(root), s"main classes are not a directory: $root")
    val walk = Files.walk(root)
    val classes =
      try walk.iterator.asScala.filter(_.toString.endsWith(".class")).toList
      finally walk.close()
    def name(p: Path): String =
      root.relativize(p).toString.stripSuffix(".class").replace('/', '.')
    val loader = getClass.getClassLoader
    val mains = classes.map(name).filter { n =>
      Class.forName(n, false, loader).getDeclaredMethods.exists { m =>
        m.getName == "main" && Modifier.isStatic(m.getModifiers) &&
        Modifier.isPublic(m.getModifiers) && m.getReturnType == Void.TYPE &&
        m.getParameterTypes.sameElements(Seq(classOf[Array[String]]))
      }
    }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.ScaleGen",
      "graft.ZipfGen", "graft.SkewGen", "graft.BruteRecall"))
  }
}
