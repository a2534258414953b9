package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.ClassReader
import org.apache.xbean.asm9.tree.{AbstractInsnNode, ClassNode, FrameNode, JumpInsnNode,
  LabelNode, LineNumberNode, LookupSwitchInsnNode, TableSwitchInsnNode}
import org.scalatest.funsuite.AnyFunSuite

/** HotSpot compiles a long-running loop on-stack (OSR) only when the loop
  * head is reached with an empty operand stack; otherwise it logs
  * "COMPILE SKIPPED: OSR starts with non-empty stack" and the loop stays
  * interpreted until its method is next called. scalac emits exactly that
  * shape for a loop in a class-body block, `locally {}` or a `val`/`lazy
  * val` initializer (`this` or `Predef` is pushed before the block runs),
  * and a constructor that runs once per page never gets another call.
  * This spec reads graft's compiled classes and fails on every backward
  * branch whose target frame holds operand-stack values. */
class JitShapeSpec extends AnyFunSuite {
  test("no loop in graft is entered with a non-empty operand stack") {
    val classes = Paths.get(
      classOf[graft.format.IntStats].getProtectionDomain.getCodeSource.getLocation.toURI)
    val files = Files.walk(classes.resolve("graft")).iterator.asScala
      .filter(_.toString.endsWith(".class")).toVector
    assert(files.size > 100, s"expected graft's classes under $classes")
    val sites = files.flatMap(JitShapeSpec.osrBlockedLoops).sorted
    if (sites.nonEmpty) fail(sites.mkString(
      s"${sites.size} loop(s) HotSpot cannot OSR-compile — move each into a method:\n",
      "\n", ""))
  }
}

object JitShapeSpec {
  /** One line per loop head of `file` that a backward branch reaches with
    * a non-empty operand stack: class, method, source line, stack depth. */
  def osrBlockedLoops(file: Path): Seq[String] = {
    val cn = new ClassNode
    new ClassReader(Files.readAllBytes(file)).accept(cn, ClassReader.EXPAND_FRAMES)
    cn.methods.asScala.toSeq.flatMap { m =>
      val insns = m.instructions
      val heads = insns.toArray.toSeq.flatMap { insn =>
        targets(insn).filter(t => insns.indexOf(t) < insns.indexOf(insn))
      }.distinct
      heads.flatMap { head =>
        frameAt(head).filter(f => f.stack != null && !f.stack.isEmpty).map { f =>
          s"${cn.name.replace('/', '.')}.${m.name} (${cn.sourceFile}:${lineOf(head)}): " +
            s"loop head with ${f.stack.size} operand-stack value(s)"
        }
      }
    }
  }

  private def targets(insn: AbstractInsnNode): Seq[LabelNode] = insn match {
    case j: JumpInsnNode => Seq(j.label)
    case t: TableSwitchInsnNode => t.dflt +: t.labels.asScala.toSeq
    case l: LookupSwitchInsnNode => l.dflt +: l.labels.asScala.toSeq
    case _ => Nil
  }

  /** The stack map frame recorded at a label: it follows the label (and
    * any other labels and line numbers at the same offset). */
  private def frameAt(label: LabelNode): Option[FrameNode] = {
    var n = label.getNext
    while (n != null && (n.isInstanceOf[LabelNode] || n.isInstanceOf[LineNumberNode]))
      n = n.getNext
    n match {
      case f: FrameNode => Some(f)
      case _ => None
    }
  }

  private def lineOf(label: LabelNode): Int = {
    var n: AbstractInsnNode = label
    while (n != null && n.getOpcode < 0) {
      n match {
        case l: LineNumberNode => return l.line
        case _ =>
      }
      n = n.getNext
    }
    n = label
    while (n != null) {
      n match {
        case l: LineNumberNode => return l.line
        case _ =>
      }
      n = n.getPrevious
    }
    -1
  }
}
