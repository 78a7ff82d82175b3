package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the loop-checkpoint owner: outside `graftbridge/`,
  * `src/main` must not re-implement what `Bridge` owns.
  *  - No `case lr: LogicalRDD` match: releasing a checkpoint's blocks
  *    is `Bridge.releaseCheckpoints`.
  *  - No `Observation()`: a loop observes its convergence scalars
  *    through `Bridge.checkpointStep` (`sources/Observe.scala` is the
  *    public telemetry operator and keeps its own).
  *  - No `.unpersist` on a name bound to a checkpoint: it frees nothing.
  *    Detection is textual — a `val`/`var` binding or reassignment
  *    whose right-hand side checkpoints (`localCheckpoint(`,
  *    `checkpoint(`, `Bridge.truncate`/`iterCheckpoint*`/
  *    `staticCheckpointKeyed`/`checkpointStep`), or that aliases such a
  *    name (`prev = cur`, a tuple `(raw, 0L)`), marks the name within
  *    its member `def`. A checkpoint passed through a helper's return
  *    value is not followed.
  * No SparkSession needed — pure text over the checked-in sources.
  */
class CheckpointSourceSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, Seq[String])] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.contains("/graftbridge/"))
      .toVector
    files.map(f => root.relativize(f).toString -> Files.readAllLines(f).asScala.toVector)
  }

  private def offenders(p: (String, Seq[String]) => Seq[Int]): Seq[String] =
    for {
      (file, lines) <- sources
      i <- p(file, lines)
    } yield s"$file:${i + 1}: ${lines(i).trim}"

  private def matching(re: scala.util.matching.Regex)(lines: Seq[String]): Seq[Int] =
    lines.indices.filter(i => re.findFirstIn(lines(i)).isDefined)

  test("no hand-rolled checkpoint release (case lr: LogicalRDD) outside graftbridge") {
    val bad = offenders((_, lines) =>
      matching("""case\s+\w+\s*:\s*(org\.apache\.spark\.sql\.execution\.)?LogicalRDD\b""".r)(lines))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no Observation() outside graftbridge and the public Observe operator") {
    val bad = offenders((file, lines) =>
      if (file == "graft/sources/Observe.scala") Nil
      else matching("""\bObservation\(\s*\)""".r)(lines))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no Dataset.unpersist on a name bound to a checkpoint") {
    val bad = offenders((_, lines) => CheckpointSourceSpec.unpersistedCheckpoints(lines))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the unpersist detector flags a checkpoint, its alias and its tuple binding") {
    val src = Seq(
      "  def fit(df: DataFrame): Model = {",
      "val raw = spread(df)",
      "  .localCheckpoint()",
      "val (base, n) = if (drop) f(raw) else (raw, 0L)",
      "var cur = base.withColumn(\"e\", lit(1))",
      "var prev: DataFrame = null",
      "val next = Bridge.truncate(step, eager = false)",
      "prev = cur",
      "cur = next",
      "cached.unpersist(false)",
      "prev.unpersist()",
      "raw.unpersist(false)",
      "base.unpersist(false)",
      "  def other(df: DataFrame): Unit = {",
      "val raw = df.persist()",
      "raw.unpersist(false)")
    assert(CheckpointSourceSpec.unpersistedCheckpoints(src) === Seq(10, 11, 12))
  }
}

object CheckpointSourceSpec {

  private val checkpointCall =
    """\.localCheckpoint\(|\.checkpoint\(|Bridge\.(truncate|iterCheckpoint\w*|staticCheckpointKeyed|checkpointStep)\b""".r
  // `name =`, `val name: T =`, `val (a, b) =`, `val Extractor(a, b) =`
  private val binding =
    """^\s*(?:(?:private\s+)?(?:val|var)\s+)?(\w+|[\w.]*\([\w\s,]+\))\s*(?::[^=]+)?=(?!=|>)(.*)$""".r
  private val unpersist = """\b(\w+)\.unpersist\(""".r
  // a member `def` of a top-level object or class starts a new scope
  private val memberDef = """^\s{0,2}(?:[\w\[\]]+\s+)*def\s""".r

  /** Line indices of `.unpersist` calls on checkpoint-bound names. */
  def unpersistedCheckpoints(lines: Seq[String]): Seq[Int] = {
    val starts = 0 +: lines.indices.filter(i => memberDef.findFirstIn(lines(i)).isDefined)
    starts.zip(starts.tail :+ lines.length).flatMap { case (from, until) =>
      inScope(lines.slice(from, until)).map(_ + from)
    }
  }

  private def inScope(lines: Seq[String]): Seq[Int] = {
    // a binding's right-hand side: its own line plus the deeper-indented
    // continuation lines below it
    def indent(s: String) = s.takeWhile(_ == ' ').length
    val bindings = lines.indices.flatMap { i =>
      binding.findFirstMatchIn(lines(i)).map { m =>
        val pattern = m.group(1)
        val names =
          if (!pattern.contains("(")) Seq(pattern)
          else pattern.dropWhile(_ != '(').drop(1).stripSuffix(")").split(",").map(_.trim).toSeq
        val rhs = (m.group(2) +: lines.drop(i + 1)
          .takeWhile(l => l.trim.isEmpty || indent(l) > indent(lines(i)))).mkString("\n")
        (names, rhs)
      }
    }
    // fixpoint: a name is checkpoint-bound if some binding of it
    // checkpoints, is a bare alias of a bound name, or (in a tuple
    // pattern) carries one in a tuple literal
    var bound = Set.empty[String]
    var grew = true
    while (grew) {
      val next = bound ++ bindings.flatMap { case (names, rhs) =>
        val direct = checkpointCall.findFirstIn(rhs).isDefined
        if (names.length == 1)
          if (direct || bound.contains(rhs.trim)) names else Nil
        else if (direct || bound.exists(b => s"\\(\\s*$b\\s*,".r.findFirstIn(rhs).isDefined)) names
        else Nil
      }
      grew = next.size > bound.size
      bound = next
    }
    lines.indices.filter { i =>
      unpersist.findAllMatchIn(lines(i)).exists(m => bound.contains(m.group(1)))
    }
  }
}
