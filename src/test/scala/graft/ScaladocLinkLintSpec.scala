package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every scaladoc link `[[…]]` in the main tree names something the main
  * tree declares: a def, val, var, type, class, trait or object, or a
  * package. A link left behind by a rename or a deletion otherwise reads
  * as a pointer to code that is gone.
  *
  * Resolution, by the link's last two segments `Owner.name`: some file
  * declares `Owner` as a class, trait or object and also declares
  * `name`, or the link's prefix is a file's package and that file
  * declares the type `name`. An unqualified `[[name]]` resolves when its
  * own file declares `name` or any file declares the type `name`. A link
  * that wraps across scaladoc lines (`[[graft.multimodal.ImageOps` /
  * `* .dHashCanonical]]`) is joined before it resolves. */
class ScaladocLinkLintSpec extends AnyFunSuite {

  private val Link = """(?s)\[\[(.*?)\]\]""".r
  private val Decl = """\b(def|val|var|class|object|trait|type)\s+([\w$]+)""".r
  private val Package = """(?m)^\s*package\s+([\w.]+)""".r

  private case class Source(path: String, text: String, pkg: String,
      decls: Set[String], types: Set[String])

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  private def source(f: File): Source = {
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val decls = Decl.findAllMatchIn(text).toSeq
    Source(f.getPath, text, Package.findAllMatchIn(text).map(_.group(1)).mkString("."),
      decls.map(_.group(2)).toSet,
      decls.filter(m => Set("class", "object", "trait")(m.group(1))).map(_.group(2)).toSet)
  }

  /** The links of `sources` that resolve to nothing, as `path:line: [[target]]`. */
  private def deadLinks(sources: Seq[Source]): Seq[String] = {
    val types = sources.flatMap(_.types).toSet
    val packages = sources.flatMap { s =>
      val p = s.pkg.split('.')
      (1 to p.length).map(p.take(_).mkString("."))
    }.toSet
    def resolves(in: Source, target: String): Boolean = {
      val segs = target.split('.').toSeq
      val name = segs.last
      if (packages(target)) true
      else if (segs.length == 1) in.decls(name) || types(name)
      else {
        val (owner, prefix) = (segs(segs.length - 2), segs.init.mkString("."))
        sources.exists(s => (s.types(owner) && s.decls(name)) ||
          (s.pkg == prefix && s.types(name)))
      }
    }
    for {
      s <- sources
      m <- Link.findAllMatchIn(s.text).toSeq
      target = m.group(1).replaceAll("""\s*\n\s*\*\s*""", "").trim
      if !resolves(s, target)
    } yield s"${s.path}:${s.text.take(m.start).count(_ == '\n') + 1}: [[$target]]"
  }

  test("every scaladoc link in src/main/scala names a declaration") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val dead = deadLinks(scalaFiles(root).map(source))
    assert(dead.isEmpty, dead.mkString("\n"))
  }

  test("the resolver joins wrapped links and refuses a name its owner lacks") {
    val dir = java.nio.file.Files.createTempDirectory("scaladoc_lint").toFile
    def write(name: String, text: String): File = {
      val f = new File(dir, name)
      java.nio.file.Files.write(f.toPath, text.getBytes("UTF-8"))
      f
    }
    val a = write("A.scala", "package p.q\nobject A {\n  def f(x: Int): Int = x\n}\n")
    val b = write("B.scala",
      """package p.q
        |/** See [[p.q.A
        |  * .f]], [[A.f]], [[A]], [[p.q]], [[g]], [[A.g]] and [[p.q.Gone]]. */
        |object B { def g(): Unit = () }
        |""".stripMargin)
    val dead = deadLinks(Seq(a, b).map(source)).map(_.replaceAll("^.*?: ", ""))
    assert(dead == Seq("[[A.g]]", "[[p.q.Gone]]"))
  }
}
