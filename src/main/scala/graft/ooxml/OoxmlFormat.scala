package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable
import graft.xmlx.NsSax

/** DOCX list numbering (reference: AbstractListManager.java /
  * XWPFListManager.java via OOXMLTikaBodyPartHandler.java:515-526):
  * word/numbering.xml abstractNum level definitions are interpolated
  * (`%N` placeholders in lvlText) with per-list counters; deeper levels
  * restart when a shallower level increments. Formats: decimal,
  * decimalZero, lower/upperLetter, lower/upperRoman, ordinal, bullet,
  * none. The formatted number + one space prefixes the paragraph text,
  * exactly like the reference's `writeParagraphNumber`.
  */
object DocxNumbering {

  final case class Level(numFmt: String, lvlText: String, start: Int)

  final class ListCounter(levels: Map[Int, Level]) {
    private val counts = mutable.Map[Int, Int]()
    private var lastLevel = -1

    def incrementLevel(ilvl: Int): String = {
      // levels above that were skipped start at their start value
      var i = lastLevel + 1
      while (i < ilvl) {
        if (!counts.contains(i)) counts(i) = levels.get(i).map(_.start).getOrElse(1)
        i += 1
      }
      counts(ilvl) = counts.get(ilvl) match {
        case Some(c) => c + 1
        case None => levels.get(ilvl).map(_.start).getOrElse(1)
      }
      // deeper levels restart next time they appear
      counts.keys.filter(_ > ilvl).toSeq.foreach(counts.remove)
      lastLevel = ilvl
      format(ilvl)
    }

    private def format(ilvl: Int): String = {
      val lvl = levels.getOrElse(ilvl, return "")
      if (lvl.numFmt == "bullet") return "· " // BULLET + space
      val m = java.util.regex.Pattern.compile("%(\\d+)").matcher(lvl.lvlText)
      val sb = new StringBuilder
      var last = 0
      while (m.find()) {
        sb.append(lvl.lvlText.substring(last, m.start()))
        val ref = m.group(1).toInt - 1 // %1 = level 0
        sb.append(formatNum(ref))
        last = m.end()
      }
      sb.append(lvl.lvlText.substring(last))
      if (sb.nonEmpty) sb.append(' ')
      sb.toString
    }

    private def formatNum(ilvl: Int): String = {
      val n = math.max(counts.getOrElse(ilvl, 1), 1)
      levels.get(ilvl).map(_.numFmt).getOrElse("decimal") match {
        case "decimal" => n.toString
        case "decimalZero" => "0" + n
        case "lowerLetter" => letter(n).toLowerCase
        case "upperLetter" => letter(n)
        case "lowerRoman" => roman(n).toLowerCase
        case "upperRoman" => roman(n)
        case "ordinal" => ordinal(n)
        case "none" | "bullet" => ""
        case _ => n.toString
      }
    }
  }

  private def letter(n0: Int): String = {
    // 1=A .. 26=Z, 27=AA (Word's letter numbering wraps like columns)
    var n = n0
    val sb = new StringBuilder
    while (n > 0) {
      n -= 1
      sb.insert(0, ('A' + n % 26).toChar)
      n /= 26
    }
    sb.toString
  }

  private def roman(n0: Int): String = {
    val vals = Array(1000, 900, 500, 400, 100, 90, 50, 40, 10, 9, 5, 4, 1)
    val syms = Array("M", "CM", "D", "CD", "C", "XC", "L", "XL", "X", "IX",
      "V", "IV", "I")
    var n = n0
    val sb = new StringBuilder
    var i = 0
    while (i < vals.length) {
      while (n >= vals(i)) { sb.append(syms(i)); n -= vals(i) }
      i += 1
    }
    sb.toString
  }

  private def ordinal(n: Int): String = {
    val s = n.toString
    if (s.endsWith("1") && !s.endsWith("11")) s + "st"
    else if (s.endsWith("2") && !s.endsWith("12")) s + "nd"
    else if (s.endsWith("3") && !s.endsWith("13")) s + "rd"
    else s + "th"
  }

  /** Per-document manager: numId -> shared counter (reference keeps one
    * counter per list instance, applied to numbered paragraphs in
    * document order). `overrides` are <w:num>/<w:lvlOverride> level
    * redefinitions and start overrides (reference: AbstractListManager's
    * overrideLevelTuples parameter).
    */
  final class Manager(numToAbstract: Map[Int, Int],
      abstractLevels: Map[Int, Map[Int, Level]],
      overrides: Map[Int, Map[Int, Level]] = Map.empty) {
    private val counters = mutable.Map[Int, ListCounter]()
    def formattedNumber(numId: Int, ilvl: Int): String = {
      if (numId < 0 || ilvl < 0) return ""
      val base = numToAbstract.get(numId).flatMap(abstractLevels.get)
        .getOrElse(return "")
      val levels = overrides.get(numId) match {
        case Some(ovr) => base ++ ovr
        case None => base
      }
      counters.getOrElseUpdate(numId, new ListCounter(levels))
        .incrementLevel(ilvl)
    }
  }

  val Empty = new Manager(Map.empty, Map.empty)

  /** Parse word/numbering.xml (abstractNum levels, num→abstractNum
    * mapping, and num-level lvlOverride redefinitions/startOverrides).
    */
  def from(parts: Map[String, Array[Byte]]): Manager =
    parts.get("word/numbering.xml").map { bytes =>
      val abstractLevels = mutable.Map[Int, mutable.Map[Int, Level]]()
      val numToAbstract = mutable.Map[Int, Int]()
      val overrideLvl = mutable.Map[(Int, Int), Level]()
      val overrideStart = mutable.Map[(Int, Int), Int]()
      var curAbstract = -1
      var curIlvl = -1
      var curFmt = "decimal"
      var curText = ""
      var curStart = 1
      var curNum = -1
      var curOvIlvl = -1
      def attVal(a: Attributes): String = {
        var i = 0
        while (i < a.getLength) {
          val q = a.getQName(i)
          if (q == "val" || q.endsWith(":val")) return a.getValue(i)
          i += 1
        }
        ""
      }
      NsSax.parsePlain(bytes, new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit = {
          val name = q.substring(q.indexOf(':') + 1)
          name match {
            case "abstractNum" =>
              var i = 0
              while (i < a.getLength) {
                if (a.getQName(i).endsWith("abstractNumId"))
                  curAbstract = a.getValue(i).toIntOption.getOrElse(-1)
                i += 1
              }
              if (curAbstract >= 0)
                abstractLevels.getOrElseUpdate(curAbstract, mutable.Map())
            case "lvl" if curAbstract >= 0 || curOvIlvl >= 0 =>
              var i = 0
              if (curAbstract >= 0) curIlvl = -1 else curIlvl = curOvIlvl
              while (i < a.getLength) {
                if (a.getQName(i).endsWith("ilvl"))
                  curIlvl = a.getValue(i).toIntOption.getOrElse(curIlvl)
                i += 1
              }
              curFmt = "decimal"; curText = ""; curStart = 1
            case "numFmt" if curIlvl >= 0 => curFmt = attVal(a)
            case "lvlText" if curIlvl >= 0 => curText = attVal(a)
            case "start" if curIlvl >= 0 =>
              curStart = attVal(a).toIntOption.getOrElse(1)
            case "num" =>
              var i = 0
              while (i < a.getLength) {
                if (a.getQName(i).endsWith("numId"))
                  curNum = a.getValue(i).toIntOption.getOrElse(-1)
                i += 1
              }
            case "abstractNumId" if curNum >= 0 =>
              attVal(a).toIntOption.foreach(aid => numToAbstract(curNum) = aid)
            case "lvlOverride" if curNum >= 0 =>
              curOvIlvl = -1
              var i = 0
              while (i < a.getLength) {
                if (a.getQName(i).endsWith("ilvl"))
                  curOvIlvl = a.getValue(i).toIntOption.getOrElse(-1)
                i += 1
              }
            case "startOverride" if curNum >= 0 && curOvIlvl >= 0 =>
              attVal(a).toIntOption.foreach(v =>
                overrideStart((curNum, curOvIlvl)) = v)
            case _ => ()
          }
        }
        override def endElement(u: String, l: String, q: String): Unit = {
          val name = q.substring(q.indexOf(':') + 1)
          name match {
            case "lvl" if curAbstract >= 0 && curIlvl >= 0 =>
              abstractLevels(curAbstract)(curIlvl) =
                Level(curFmt, curText, curStart)
              curIlvl = -1
            case "lvl" if curNum >= 0 && curIlvl >= 0 =>
              // full level redefinition inside lvlOverride
              overrideLvl((curNum, curIlvl)) = Level(curFmt, curText, curStart)
              curIlvl = -1
            case "lvlOverride" => curOvIlvl = -1
            case "abstractNum" => curAbstract = -1
            case "num" => curNum = -1
            case _ => ()
          }
        }
      })
      // resolve start-only overrides against the base levels; full level
      // redefinitions win over startOverride
      val overrides = mutable.Map[Int, mutable.Map[Int, Level]]()
      overrideLvl.foreach { case ((num, ilvl), lvl) =>
        overrides.getOrElseUpdate(num, mutable.Map())(ilvl) = lvl
      }
      overrideStart.foreach { case ((num, ilvl), start) =>
        if (!overrideLvl.contains((num, ilvl))) {
          val base = numToAbstract.get(num).flatMap(abstractLevels.get)
            .flatMap(_.get(ilvl))
          base.foreach(b =>
            overrides.getOrElseUpdate(num, mutable.Map())(ilvl) =
              b.copy(start = start))
        }
      }
      new Manager(numToAbstract.toMap,
        abstractLevels.map { case (k, v) => k -> v.toMap }.toMap,
        overrides.map { case (k, v) => k -> v.toMap }.toMap)
    }.getOrElse(Empty)
}

/** XLSX number/date formatting (reference:
  * XSSFExcelExtractorDecorator.java via POI's DataFormatter): numeric
  * cell values format through the style table — xl/styles.xml cellXfs
  * numFmtId into the ECMA-376 §18.8.30 builtin table or custom numFmts.
  * Subset: fixed decimals, thousands grouping, percent, General, and
  * date/time token rendering (yyyy/yy/mmm/mm/m/dd/d/hh/h/mm/ss with
  * the h-m-s minute disambiguation and the 1900 epoch).
  */
object XlsxNumFormat {

  val Builtin: Map[Int, String] = Map(
    1 -> "0", 2 -> "0.00", 3 -> "#,##0", 4 -> "#,##0.00",
    9 -> "0%", 10 -> "0.00%", 14 -> "m/d/yy", 15 -> "d-mmm-yy",
    16 -> "d-mmm", 17 -> "mmm-yy", 18 -> "h:mm AM/PM",
    19 -> "h:mm:ss AM/PM", 20 -> "h:mm", 21 -> "h:mm:ss",
    22 -> "m/d/yy h:mm", 45 -> "mm:ss", 46 -> "[h]:mm:ss",
    47 -> "mm:ss.0", 49 -> "@")

  /** (cellXfs index -> numFmtId, custom numFmtId -> code). */
  def stylesFrom(parts: Map[String, Array[Byte]]): (Vector[Int], Map[Int, String]) = {
    parts.get("xl/styles.xml").map { bytes =>
      val xfs = Vector.newBuilder[Int]
      val custom = mutable.Map[Int, String]()
      var inCellXfs = false
      NsSax.parsePlain(bytes, new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit = q.substring(q.indexOf(':') + 1) match {
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            xfs += Option(a.getValue("numFmtId"))
              .flatMap(_.toIntOption).getOrElse(0)
          case "numFmt" =>
            for {
              id <- Option(a.getValue("numFmtId")).flatMap(_.toIntOption)
              code <- Option(a.getValue("formatCode"))
            } custom(id) = code
          case _ => ()
        }
        override def endElement(u: String, l: String, q: String): Unit =
          if (q.endsWith("cellXfs")) inCellXfs = false
      })
      (xfs.result(), custom.toMap)
    }.getOrElse((Vector.empty, Map.empty))
  }

  private def stripLiterals(code: String): String =
    code.replaceAll("\"[^\"]*\"", "").replaceAll("\\[[^\\]]*\\]", "")
      .replaceAll("AM/PM", "")

  def isDateFormat(code: String): Boolean = {
    val c = stripLiterals(code).toLowerCase
    c.exists(ch => ch == 'y' || ch == 'd' || ch == 'h') ||
      (c.contains('m') && !c.exists(ch => ch == '0' || ch == '#'))
  }

  /** Format a numeric cell through its format code. */
  def format(raw: String, code: String): String = {
    val v = raw.toDoubleOption.getOrElse(return raw)
    if (code == "General" || code == "@") general(v)
    else if (isDateFormat(code)) formatDate(v, code)
    else formatNumber(v, code)
  }

  def general(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else {
      val bd = new java.math.BigDecimal(v)
        .round(new java.math.MathContext(11)).stripTrailingZeros()
      bd.toPlainString
    }

  private def formatNumber(v: Double, code: String): String = {
    val percent = code.endsWith("%")
    val x = if (percent) v * 100 else v
    val decimals = {
      val dot = code.indexOf('.')
      if (dot < 0) 0
      else code.substring(dot + 1).takeWhile(c => c == '0').length
    }
    val grouped = code.contains(",")
    val bd = java.math.BigDecimal.valueOf(x)
      .setScale(decimals, java.math.RoundingMode.HALF_UP)
    val s =
      if (grouped) {
        val f = java.text.NumberFormat.getIntegerInstance(java.util.Locale.ROOT)
        val intPart = bd.toBigInteger
        val frac = bd.subtract(new java.math.BigDecimal(intPart)).abs()
        val fracStr =
          if (decimals == 0) ""
          else "." + frac.movePointRight(decimals).toBigInteger.toString
            .reverse.padTo(decimals, '0').reverse
        f.format(intPart) + fracStr
      } else bd.toPlainString
    if (percent) s + "%" else s
  }

  private def formatDate(v: Double, code: String): String = {
    // 1900 date system: serial 1 = 1900-01-01; POI bases day arithmetic
    // on 1899-12-30 for serials past the fake 1900-02-29 (Lotus bug)
    val days = math.floor(v).toLong
    val secs = math.round((v - days) * 86400.0)
    val base = if (days < 61) java.time.LocalDate.of(1899, 12, 31)
               else java.time.LocalDate.of(1899, 12, 30)
    val date = base.plusDays(if (days < 61) days - 1 else days)
    val time = java.time.LocalTime.ofSecondOfDay(math.min(secs, 86399))
    val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
      "Aug", "Sep", "Oct", "Nov", "Dec")
    val c = stripLiterals(code)
    val sb = new StringBuilder
    var i = 0
    var lastDateToken = ' ' // tracks h for minute disambiguation
    while (i < c.length) {
      val ch = c.charAt(i).toLower
      if ("ymdhs".contains(ch) || ch == 'a') {
        var run = 1
        while (i + run < c.length && c.charAt(i + run).toLower == ch) run += 1
        ch match {
          case 'y' => sb.append(
            if (run >= 4) date.getYear.toString
            else f"${date.getYear % 100}%02d")
          case 'm' =>
            // minutes when the previous time token was h, or an s follows
            val sFollows = {
              var j = i + run
              while (j < c.length && !"ymdhsa0#".contains(c.charAt(j).toLower)) j += 1
              j < c.length && c.charAt(j).toLower == 's'
            }
            if (lastDateToken == 'h' || sFollows)
              sb.append(f"${time.getMinute}%02d")
            else if (run >= 3) sb.append(months(date.getMonthValue - 1))
            else if (run == 2) sb.append(f"${date.getMonthValue}%02d")
            else sb.append(date.getMonthValue.toString)
          case 'd' => sb.append(
            if (run >= 2) f"${date.getDayOfMonth}%02d"
            else date.getDayOfMonth.toString)
          case 'h' =>
            val h12 = code.toUpperCase.contains("AM/PM")
            val h = if (h12) { val x = time.getHour % 12; if (x == 0) 12 else x }
                    else time.getHour
            sb.append(if (run >= 2) f"$h%02d" else h.toString)
            lastDateToken = 'h'
          case 's' => sb.append(f"${time.getSecond}%02d")
          case 'a' => // AM/PM literal in stripped form is gone; skip 'a' runs
            ()
        }
        if (ch != 'h' && ch != 'm') lastDateToken = ch
        i += run
      } else {
        if (!"\\*_".contains(ch)) sb.append(c.charAt(i))
        i += 1
      }
    }
    val out = sb.toString
    if (code.toUpperCase.contains("AM/PM"))
      out.trim + (if (time.getHour < 12) " AM" else " PM")
    else out
  }
}
