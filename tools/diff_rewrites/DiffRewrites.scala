import java.lang.reflect.{InvocationTargetException, Method}
import java.net.URLClassLoader
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.parser.{CatalystSqlParser, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation}
import org.apache.spark.sql.types.StructType

/** Runs every corpus text through the CH-SQL front end of two builds of
  * the engine and prints each output on which they differ.
  *
  *   DiffRewrites <corpus> <classesA> <classesB>
  *
  * `corpus` holds one base64 (UTF-8) text per line. Each classes
  * directory is loaded in its own class loader over the Spark jars on
  * this program's classpath, so the two builds never share state. The
  * private parser steps are called reflectively.
  *
  * Output: one `DIFF <line> <function> <base64 A> <base64 B>` line per
  * difference, then `TOTAL <texts> <functions> <differences>`.
  */
object DiffRewrites {

  private val functions = Seq("rewrite", "needsPreRewrite",
    "parseAlterTable", "parseCreateTable", "parseSelect", "parseBody",
    "parseOptions")

  private final class Build(dir: String) {
    private val loader = new URLClassLoader(
      Array(Paths.get(dir).toUri.toURL), getClass.getClassLoader)
    private def cls(name: String) = Class.forName(name, true, loader)
    // a private method may carry its owner's mangled prefix
    private def method(c: Class[_], name: String): Method = {
      val m = c.getDeclaredMethods.find(m =>
        m.getName == name || m.getName.endsWith("$$" + name)).getOrElse(
        throw new NoSuchMethodException(s"${c.getName}.$name"))
      m.setAccessible(true)
      m
    }
    private val parserCls = cls("graft.plans.TotalsParser")
    private val parser = parserCls.getConstructor(classOf[ParserInterface])
      .newInstance(CatalystSqlParser)
    private val onParser = Seq("rewrite", "needsPreRewrite",
      "parseAlterTable").map(n => n -> method(parserCls, n)).toMap
    // (module instance, method) of a Scala object
    private def onObject(name: String, m: String): (AnyRef, Method) = {
      val c = cls(s"graft.plans.$name$$")
      (c.getField("MODULE$").get(null), method(c, m))
    }
    private val (ddlObj, ddl) = onObject("ChDdl", "parseCreateTable")
    private val (mvObj, mv) = onObject("ChMatView", "parseSelect")
    private val (projObj, proj) = onObject("ChProjections", "parseBody")
    private val (yqlObj, yql) = onObject("YqlText", "parseOptions")

    def run(function: String, text: String): String =
      try show(function match {
        case "rewrite" =>
          onParser(function).invoke(parser, text) match {
            // the text and the plan markers the rewrite wraps around
            case Some(rw: Product) =>
              val wrap = rw.productElement(1)
                .asInstanceOf[LogicalPlan => LogicalPlan]
              Seq(rw.productElement(0), wrap(OneRowRelation()).treeString)
            case other => other
          }
        case "parseCreateTable" => ddl.invoke(ddlObj, text)
        case "parseSelect" => mv.invoke(mvObj, text)
        case "parseBody" => proj.invoke(projObj, "t", "p", text, "/p")
        case "parseOptions" => yql.invoke(yqlObj, text)
        case _ => onParser(function).invoke(parser, text)
      }) catch {
        case e: InvocationTargetException => thrown(e.getCause)
        case e: Exception => thrown(e)
      }

    private def thrown(e: Throwable): String =
      s"THROWS ${e.getClass.getName}: ${e.getMessage}"
  }

  // schemas print as JSON so field metadata (the engine stamps) counts
  private def show(x: Any): String = x match {
    case Some(v) => s"Some(${show(v)})"
    case s: StructType => s.json
    case s: Iterable[_] => s.map(show).mkString("[", ", ", "]")
    case p: Product if p.productArity > 0 =>
      p.productPrefix + p.productIterator.map(show).mkString("(", ", ", ")")
    case other => String.valueOf(other)
  }

  def main(args: Array[String]): Unit = {
    val Array(corpus, dirA, dirB) = args
    val texts = Files.readAllLines(Paths.get(corpus), UTF_8).asScala
      .map(l => new String(Base64.getDecoder.decode(l), UTF_8))
    val (a, b) = (new Build(dirA), new Build(dirB))
    val enc = Base64.getEncoder
    def b64(s: String) = enc.encodeToString(s.getBytes(UTF_8))
    var diffs = 0
    for ((text, line) <- texts.zipWithIndex; f <- functions) {
      val (oa, ob) = (a.run(f, text), b.run(f, text))
      if (oa != ob) {
        diffs += 1
        println(s"DIFF $line $f ${b64(oa)} ${b64(ob)}")
      }
    }
    println(s"TOTAL ${texts.length} ${functions.length} $diffs")
  }
}
