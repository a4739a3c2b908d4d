package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PLANS.md is `PlanDump`'s output; it must not drift from the plans the
  * engine makes. Every section's operator skeleton must equal the one
  * recorded in PLANS.md, section for section.
  */
class PlansDocSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The operator tree of a formatted plan, one node name per line in tree
    * order, without the tree drawing, node and expression ids, backquoted
    * paths and broadcast ids: what stays the same when the plan does from
    * one run to the next.
    */
  private def skeleton(formatted: String): Seq[String] =
    formatted.linesIterator.dropWhile(_ != "== Physical Plan ==").drop(1)
      .takeWhile(_.trim.nonEmpty).map(_
        .replaceAll("^[ :+|-]*", "")
        .replaceAll(" \\(\\d+\\)$", "")
        .replaceAll("`[^`]*`", "`<path>`")
        .replaceAll("Broadcast\\(\\d+\\)", "Broadcast")
        .replaceAll("#\\d+L?", "")
        .trim)
      .toSeq

  /** (title, plan block) of each `## ` section of PLANS.md, in order. */
  private def recorded: Seq[(String, String)] = {
    val doc = new String(Files.readAllBytes(Paths.get("PLANS.md")), UTF_8)
    doc.split("\n## ").toSeq.drop(1).map { sec =>
      val title = sec.linesIterator.next()
      val block = sec.split("```", -1)
      assert(block.length >= 3, s"section '$title' has no plan block")
      title -> block(1)
    }
  }

  test("PLANS.md records the operator tree of every PlanDump section") {
    // a plan reads the cached frames of earlier specs as InMemoryRelations
    // in whatever state those specs left them; PlanDump starts with none
    spark.catalog.clearCache()
    val live = PlanDump.sections(spark, "/root/testdata/sf0.001")
    val doc = recorded
    assert(doc.map(_._1) == live.map(_.title), "section titles")
    doc.zip(live).foreach { case ((title, block), s) =>
      assert(skeleton(s.plan).nonEmpty, s"section '$title' has no operator tree")
      assert(skeleton(block) == skeleton(s.plan),
        s"section '$title': regenerate PLANS.md with graft.tools.PlanDump\n${s.plan}")
    }
  }
}
