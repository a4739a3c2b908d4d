package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.ClassReader
import org.apache.xbean.asm9.tree.{AbstractInsnNode, ClassNode, FrameNode, JumpInsnNode,
  LabelNode, LookupSwitchInsnNode, TableSwitchInsnNode}
import org.scalatest.funsuite.AnyFunSuite

/** HotSpot compiles a long-running loop on-stack (OSR) only when the
  * operand stack is empty at the loop header. scalac leaves a value there
  * when a loop sits inside an expression that is still being built: a
  * `locally { … }` block (the `Predef` receiver is pushed first), or an
  * argument such as `getOrElse({ while … })`. Both JIT tiers then skip
  * the method ("OSR starts with non-empty stack"), and a loop that runs
  * once per call is never compiled at all — every codec block was scanned
  * by the bytecode interpreter that way. This guard reads every compiled
  * `graft` class and rejects the shape.
  */
object LoopShape {

  /** `Class.method` for each method holding a backward jump to a label
    * whose stack-map frame has a non-empty operand stack.
    */
  def stackedLoops(classFile: Array[Byte]): Seq[String] = {
    val cls = new ClassNode()
    new ClassReader(classFile).accept(cls, ClassReader.EXPAND_FRAMES)
    cls.methods.asScala.toSeq.flatMap { m =>
      val insns = m.instructions.toArray
      val at = insns.zipWithIndex.collect { case (l: LabelNode, i) => l -> i }.toMap
      // the frame of a label follows it, before the next real instruction
      def stackDepth(label: LabelNode): Int =
        insns.iterator.drop(at(label)).takeWhile(_.getOpcode < 0)
          .collectFirst { case f: FrameNode if f.stack != null => f.stack.size }
          .getOrElse(0)
      val stacked = insns.zipWithIndex.exists { case (insn, i) =>
        targets(insn).exists(l => at(l) < i && stackDepth(l) > 0)
      }
      if (stacked) Seq(s"${cls.name.replace('/', '.')}.${m.name}") else Nil
    }
  }

  private def targets(insn: AbstractInsnNode): Seq[LabelNode] = insn match {
    case j: JumpInsnNode => Seq(j.label)
    case t: TableSwitchInsnNode => t.dflt +: t.labels.asScala.toSeq
    case l: LookupSwitchInsnNode => l.dflt +: l.labels.asScala.toSeq
    case _ => Nil
  }
}

/** The rejected shape, kept in test sources to show the guard fires. */
private class StackedLoopFixture(values: Array[Int]) {
  var sum = 0L
  locally {
    var i = 0
    while (i < values.length) { sum += values(i); i += 1 }
  }
}

class BytecodeGuardSpec extends AnyFunSuite {

  private def classBytes(c: Class[_]): Array[Byte] = {
    val in = c.getResourceAsStream(c.getSimpleName + ".class")
    try in.readAllBytes() finally in.close()
  }

  test("the guard flags a loop inside a locally block") {
    assert(LoopShape.stackedLoops(classBytes(classOf[StackedLoopFixture])) ==
      Seq("graft.StackedLoopFixture.<init>"))
  }

  test("no compiled graft loop is entered with a non-empty operand stack") {
    val root = Paths.get(classOf[graft.codec.ByteWriter].getProtectionDomain
      .getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(root), s"main classes are not a directory: $root")
    val walk = Files.walk(root.resolve("graft"))
    val classes: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".class")).toSeq
      finally walk.close()
    assert(classes.size > 100, s"only ${classes.size} classes under $root")
    val offenders = classes.flatMap(p => LoopShape.stackedLoops(Files.readAllBytes(p)))
    assert(offenders.isEmpty,
      "loops HotSpot cannot OSR-compile (move them into a plain method " +
        s"over locals): ${offenders.sorted.mkString(", ")}")
  }
}
