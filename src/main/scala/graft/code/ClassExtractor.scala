package graft.code

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** Java .class structure rendered as javap-style declaration text.
  *
  * Reference behavior: tika-parsers code-module `asm/ClassParser.java` +
  * `asm/XHTMLClassVisitor.java` (ASM visitor, SKIP_CODE) — package line,
  * class/interface/enum declaration with modifiers, non-synthetic fields
  * (`    private pkg.Type name;`, static initializers as ` = value`),
  * non-synthetic methods with argument/throws types, `<init>` printed as
  * the class name. Type names drop the own-package and `java.lang.`
  * prefixes (XHTMLClassVisitor.writeType). Title = simple class name,
  * resource name = `<name>.class` (ClassParserTest expectations). Here
  * the constant pool is walked directly from the public class-file
  * format (JVMS §4) instead of ASM.
  */
object ClassExtractor {

  final class ClassMalformed(msg: String) extends Exception(msg)

  private val AccFlags: Array[(Int, String)] = Array(
    0x0002 -> "private", 0x0004 -> "protected", 0x0001 -> "public",
    0x0008 -> "static", 0x0010 -> "final", 0x0400 -> "abstract",
    0x0020 -> "synchronized", 0x0080 -> "transient", 0x0040 -> "volatile",
    0x0100 -> "native")

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val r = new Reader(bytes)
    if (r.u4() != 0xcafebabeL) throw new ClassMalformed("bad magic")
    r.u2(); r.u2() // minor, major — any version: the walk is tag-driven
    val cpCount = r.u2()
    // constant pool: 1-indexed; Long/Double take two slots
    val utf8 = new Array[String](cpCount)
    val classIdx = new Array[Int](cpCount) // Class_info -> name idx
    val constVal = new Array[Object](cpCount)
    val stringIdx = new Array[Int](cpCount)
    var i = 1
    while (i < cpCount) {
      val tag = r.u1()
      tag match {
        case 1 =>
          val len = r.u2()
          utf8(i) = new String(bytes, r.at, len, StandardCharsets.UTF_8)
          r.skip(len)
        case 3 => constVal(i) = Integer.valueOf(r.u4().toInt)
        case 4 => constVal(i) =
          java.lang.Float.valueOf(java.lang.Float.intBitsToFloat(r.u4().toInt))
        case 5 =>
          constVal(i) = java.lang.Long.valueOf((r.u4() << 32) | r.u4())
          i += 1
        case 6 =>
          val bits = (r.u4() << 32) | r.u4()
          constVal(i) = java.lang.Double.valueOf(
            java.lang.Double.longBitsToDouble(bits))
          i += 1
        case 7 => classIdx(i) = r.u2()
        case 8 => stringIdx(i) = r.u2()
        case 9 | 10 | 11 | 12 | 17 | 18 => r.skip(4)
        case 15 => r.skip(3)
        case 16 | 19 | 20 => r.skip(2)
        case t => throw new ClassMalformed(s"cp tag $t")
      }
      i += 1
    }
    def cpUtf8(idx: Int): String =
      if (idx > 0 && idx < cpCount && utf8(idx) != null) utf8(idx)
      else throw new ClassMalformed("bad utf8 ref")
    def cpClassName(idx: Int): String =
      cpUtf8(classIdx(idx)).replace('/', '.')

    val access = r.u2()
    val thisName = cpClassName(r.u2())
    val superIdx = r.u2()
    val (packageName, simpleName) = {
      val dot = thisName.lastIndexOf('.')
      if (dot < 0) ("", thisName) else (thisName.substring(0, dot),
        thisName.substring(dot + 1))
    }
    meta.set("dc:title", simpleName)
    meta.set("resource-name", simpleName + ".class")

    def typeName(name: String): String =
      if (packageName.nonEmpty && name.startsWith(packageName + ".") &&
        name.indexOf('.', packageName.length + 1) < 0)
        name.substring(packageName.length + 1)
      else if (name.startsWith("java.lang.") &&
        name.indexOf('.', "java.lang.".length) < 0)
        name.substring("java.lang.".length)
      else name

    val sb = new StringBuilder
    def acc(flags: Int): Unit = {
      var k = 0
      while (k < AccFlags.length) {
        if ((flags & AccFlags(k)._1) != 0) { sb.append(AccFlags(k)._2).append(' ') }
        k += 1
      }
    }

    // descriptor cursor -> java type name
    def descType(d: String, pos: Int): (String, Int) = {
      var p = pos
      var dims = 0
      while (p < d.length && d.charAt(p) == '[') { dims += 1; p += 1 }
      if (p >= d.length) throw new ClassMalformed("bad descriptor")
      val (base, next) = d.charAt(p) match {
        case 'B' => ("byte", p + 1)
        case 'C' => ("char", p + 1)
        case 'D' => ("double", p + 1)
        case 'F' => ("float", p + 1)
        case 'I' => ("int", p + 1)
        case 'J' => ("long", p + 1)
        case 'S' => ("short", p + 1)
        case 'Z' => ("boolean", p + 1)
        case 'V' => ("void", p + 1)
        case 'L' =>
          val semi = d.indexOf(';', p)
          if (semi < 0) throw new ClassMalformed("bad descriptor")
          (typeName(d.substring(p + 1, semi).replace('/', '.')), semi + 1)
        case c => throw new ClassMalformed(s"bad descriptor char $c")
      }
      (base + ("[]" * dims), next)
    }

    if (packageName.nonEmpty) sb.append("package ").append(packageName).append(";\n")
    acc(access)
    val nIfaces = new scala.collection.mutable.ArrayBuffer[String]()
    if ((access & 0x0200) != 0) { // interface
      sb.append("interface ").append(typeName(thisName)).append(' ')
    } else if ((access & 0x4000) != 0) { // enum
      sb.append("enum ").append(typeName(thisName)).append(' ')
    } else {
      sb.append("class ").append(typeName(thisName)).append(' ')
      if (superIdx != 0) {
        val superName = cpClassName(superIdx)
        if (superName != "java.lang.Object")
          sb.append("extends ").append(typeName(superName)).append(' ')
      }
    }
    val ifCount = r.u2()
    var fi = 0
    while (fi < ifCount) { nIfaces += typeName(cpClassName(r.u2())); fi += 1 }
    if (nIfaces.nonEmpty && (access & 0x4000) == 0) {
      sb.append(if ((access & 0x0200) != 0) "extends" else "implements")
      sb.append(' ').append(nIfaces.mkString(", ")).append(' ')
    }
    sb.append("{\n")

    // fields
    var fc = r.u2()
    while (fc > 0) {
      val fAccess = r.u2()
      val fName = cpUtf8(r.u2())
      val fDesc = cpUtf8(r.u2())
      var constIdx = -1
      var ac = r.u2()
      while (ac > 0) {
        val aName = cpUtf8(r.u2())
        val aLen = r.u4().toInt
        if (aName == "ConstantValue" && aLen == 2) constIdx = r.u2()
        else r.skip(aLen)
        ac -= 1
      }
      if ((fAccess & 0x1000) == 0) { // non-synthetic
        sb.append("    ")
        acc(fAccess)
        sb.append(descType(fDesc, 0)._1).append(' ').append(fName)
        if ((fAccess & 0x0008) != 0 && constIdx > 0) {
          val v: Object =
            if (constVal(constIdx) != null) constVal(constIdx)
            else if (stringIdx(constIdx) > 0) cpUtf8(stringIdx(constIdx))
            else null
          if (v != null) sb.append(" = ").append(v.toString)
        }
        sb.append(";\n")
      }
      fc -= 1
    }

    // methods
    var mc = r.u2()
    while (mc > 0) {
      val mAccess = r.u2()
      val mName = cpUtf8(r.u2())
      val mDesc = cpUtf8(r.u2())
      val throws = new scala.collection.mutable.ArrayBuffer[String]()
      var ac = r.u2()
      while (ac > 0) {
        val aName = cpUtf8(r.u2())
        val aLen = r.u4().toInt
        if (aName == "Exceptions" && aLen >= 2) {
          var n = r.u2()
          while (n > 0) { throws += typeName(cpClassName(r.u2())); n -= 1 }
        } else r.skip(aLen)
        ac -= 1
      }
      if ((mAccess & 0x1000) == 0 && mName != "<clinit>") {
        sb.append("    ")
        acc(mAccess)
        // return type, then name (constructors print the class name)
        val close = mDesc.indexOf(')')
        if (close < 0) throw new ClassMalformed("bad method descriptor")
        sb.append(descType(mDesc, close + 1)._1).append(' ')
        sb.append(if (mName == "<init>") typeName(thisName) else mName)
        sb.append('(')
        var p = 1
        var first = true
        while (p < close) {
          val (t, np) = descType(mDesc, p)
          if (!first) sb.append(", ")
          sb.append(t)
          first = false
          p = np
        }
        sb.append(')')
        if (throws.nonEmpty) sb.append(" throws ").append(throws.mkString(", "))
        sb.append(";\n")
      }
      mc -= 1
    }
    sb.append("}\n")
    sink.chars(sb.toString)
  }

  private final class Reader(b: Array[Byte]) {
    var at = 0
    def u1(): Int = { check(1); val v = b(at) & 0xff; at += 1; v }
    def u2(): Int = { check(2); at += 2; Endian.be16(b, at - 2) }
    def u4(): Long = { check(4); at += 4; Endian.be32(b, at - 4) }
    def skip(n: Int): Unit = { if (n < 0) throw new ClassMalformed("neg len"); check(n); at += n }
    private def check(n: Int): Unit =
      if (at + n > b.length) throw new ClassMalformed("truncated")
  }
}
