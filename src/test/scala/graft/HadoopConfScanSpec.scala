package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A scan of the engine's sources for two per-call Hadoop fixed costs,
  * and of `graft/exec` for registrations on a SparkSession.
  *
  *   - A fresh Hadoop `Configuration` (`new Configuration()`, `new
  *     Configuration(true)`, `ParquetReadOptions.builder()`, `new
  *     HadoopParquetConfiguration()`) re-reads `core-default.xml` and the
  *     other resources on first use: ~12 ms. Engine code takes the
  *     session's conf (`sessionState.newHadoopConf()`) or a serialized one.
  *     A copy (`new Configuration(other)`) and `new Configuration(false)`
  *     load no resources and pass.
  *   - `ParquetFileReader.open` without read options builds such a conf for
  *     every footer it opens. A call passes when an argument names
  *     `ReadOptions`, as `graft.sources.ParquetFooters` does.
  *   - `createOrReplaceTempView`, `dropTempView` or `udf.register` in
  *     `graft/exec`: a statement reads engine relations and dictionaries
  *     through its plan resolver, so a `GraftSession` registers nothing on
  *     its SparkSession.
  *
  * Comments and string literals are blanked before matching.
  */
object HadoopConfScan {

  final case class Offence(file: String, line: Int, what: String)

  /** `src` with every comment and string or char literal replaced by
    * spaces; newlines and offsets are kept. */
  def code(src: String): String = {
    val out = src.toCharArray
    def blank(from: Int, until: Int): Unit =
      (from until until.min(out.length)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    val n = src.length
    var i = 0
    while (i < n) {
      val c = src.charAt(i)
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val end = if (e < 0) n else e
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        blank(i, j); i = j
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        blank(i, j + 1); i = j + 1
      } else if (c == '\'' && i + 2 < n &&
        (src.charAt(i + 2) == '\'' || src.charAt(i + 1) == '\\')) {
        val e = src.indexOf('\'', if (src.charAt(i + 1) == '\\') i + 3 else i + 2)
        val end = if (e < 0) n else e + 1
        blank(i, end); i = end
      } else i += 1
    }
    new String(out)
  }

  /** The text inside the parentheses that open at `open`. */
  private def args(code: String, open: Int): String = {
    var depth = 0
    var j = open
    while (j < code.length) {
      code.charAt(j) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) return code.substring(open + 1, j)
        case _ =>
      }
      j += 1
    }
    code.substring(open + 1)
  }

  private def lineOf(src: String, at: Int): Int = src.substring(0, at).count(_ == '\n') + 1

  /** The offences in one source file's text. */
  def offences(file: String, src: String): Seq[Offence] = {
    val c = code(src)
    // renamed imports: import org.apache.hadoop.conf.{Configuration => HConf}
    val aliases = "import\\s+org\\.apache\\.hadoop\\.conf\\.\\{[^}]*\\bConfiguration\\s*=>\\s*(\\w+)"
      .r.findAllMatchIn(c)
      .map(_.group(1)).filter(_ != "_").toSeq
    val confNames = ("Configuration" +: aliases).map(java.util.regex.Pattern.quote)
    val freshConf =
      s"\\bnew\\s+(?:org\\.apache\\.hadoop\\.conf\\.)?(?:${confNames.mkString("|")})\\b\\s*(\\()?".r
    val fromConf = freshConf.findAllMatchIn(c).flatMap { m =>
      val a = if (m.group(1) == null) "" else args(c, m.end - 1).trim
      if (a.isEmpty || a == "true" || a.matches("loadDefaults\\s*=\\s*true"))
        Some(Offence(file, lineOf(src, m.start), "fresh Hadoop Configuration"))
      else None
    }
    val fromParquet =
      "\\b(?:ParquetReadOptions\\s*\\.\\s*builder|new\\s+HadoopParquetConfiguration)\\s*\\(\\s*\\)".r
        .findAllMatchIn(c)
        .map(m => Offence(file, lineOf(src, m.start), "fresh Hadoop Configuration (parquet)"))
    val opens = "\\bParquetFileReader\\s*\\.\\s*open\\s*\\(".r.findAllMatchIn(c).flatMap { m =>
      val a = args(c, m.end - 1)
      if (a.contains("ReadOptions")) None
      else Some(Offence(file, lineOf(src, m.start), "ParquetFileReader.open without read options"))
    }
    (fromConf ++ fromParquet ++ opens).toSeq.sortBy(_.line)
  }

  /** The session registrations in one source file's text. */
  def registrations(file: String, src: String): Seq[Offence] =
    "\\b(createOrReplaceTempView|dropTempView|udf\\s*\\.\\s*register)\\b".r
      .findAllMatchIn(code(src))
      .map(m => Offence(file, lineOf(src, m.start), s"session registration ${m.group(1)}"))
      .toSeq

  /** The Scala and Java files under `root`. */
  def sources(root: Path): Seq[Path] = {
    val w = Files.walk(root)
    try w.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && (n.endsWith(".scala") || n.endsWith(".java"))
    }.toVector.sortBy(_.toString)
    finally w.close()
  }

  def scan(root: Path,
           rule: (String, String) => Seq[Offence] = offences): Seq[Offence] =
    sources(root).flatMap(p =>
      rule(root.relativize(p).toString, new String(Files.readAllBytes(p), "UTF-8")))
}

class HadoopConfScanSpec extends AnyFunSuite {
  import HadoopConfScan._

  test("src/main builds no fresh Hadoop Configuration and opens every " +
    "parquet footer with read options") {
    val root = Paths.get("src/main")
    assert(sources(root).size > 50, s"no engine sources under ${root.toAbsolutePath}")
    val found = scan(root)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the scan catches each form and passes the cheap ones") {
    val bad =
      """import org.apache.hadoop.conf.{Configuration => HConf}
        |object A {
        |  val a = new Configuration()
        |  val b = new org.apache.hadoop.conf.Configuration
        |  val c = new Configuration(true)
        |  val d = new HConf()
        |  val e = ParquetFileReader.open(
        |    HadoopInputFile.fromPath(p, conf))
        |  val f = ParquetReadOptions.builder()
        |  val g = new HadoopParquetConfiguration()
        |}
        |""".stripMargin
    assert(offences("A.scala", bad).map(_.line) === Seq(3, 4, 5, 6, 7, 9, 10))
    val good =
      """object B {
        |  // new Configuration() in a comment
        |  /* ParquetFileReader.open(x) /* nested */ new Configuration() */
        |  val s = "new Configuration()"
        |  val q = '"'
        |  val t = s"${ParquetFileReader.open(x)}"
        |  val a = new Configuration(spark.sparkContext.hadoopConfiguration)
        |  val b = new Configuration(false)
        |  val c = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
        |    HadoopReadOptions.builder(conf).build())
        |  val d = ParquetReadOptions.builder(new HadoopParquetConfiguration(conf))
        |  val e = new ConfigurationBuilder()
        |}
        |""".stripMargin
    assert(offences("B.scala", good).isEmpty)
  }

  test("graft/exec registers no temp view and no function on a SparkSession") {
    val root = Paths.get("src/main/scala/graft/exec")
    assert(sources(root).nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val found = scan(root, registrations)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the registration scan catches each form and skips comments and " +
    "literals") {
    val src =
      """object C {
        |  df.createOrReplaceTempView("v")
        |  spark.catalog.dropTempView("v")
        |  spark.udf.register("f", g)
        |  spark.udf
        |    .register("f", g)
        |  // df.createOrReplaceTempView("v")
        |  val s = "spark.udf.register"
        |  df.createOrReplaceTempViewLater("v")
        |}
        |""".stripMargin
    assert(registrations("C.scala", src).map(_.line) === Seq(2, 3, 4, 5))
  }
}
