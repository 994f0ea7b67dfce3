package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass best-effort `unidecode` stand-in as a native Catalyst
  * expression (reference cleans every tape cell through Python's
  * `unidecode`, `bronze_funcs.py:22-33`; SURVEY §7.5).
  *
  * Coverage, generated once at class load:
  *  - every BMP Latin character (U+00C0..U+024F, U+1E00..U+1EFF)
  *    whose NFD decomposition is ASCII-letter + combining marks —
  *    ~500 chars, derived via `java.text.Normalizer`, not hand-kept;
  *  - non-decomposable Latin specials (Ø Đ Ł Ð ß Æ Œ Þ ĳ …);
  *  - Greek and Cyrillic romanization (1:1 and multi-char: θ→th,
  *    ш→sh, щ→shch, …);
  *  - typographic punctuation/space fold (smart quotes, en/em dashes,
  *    ellipsis, NBSP/zero-width spaces, guillemets, ×÷±, vulgar
  *    fractions, superscripts) and currency signs (€→EUR, …);
  *  - Hangul syllable romanization, fully ALGORITHMIC (arithmetic
  *    jamo decomposition × three Revised-Romanization tables covers
  *    all 11,172 syllables with ~70 table entries);
  *  - Kana (Hepburn per-character) and Arabic base-block letters,
  *    digits and punctuation. Han/CJK ideographs stay unmapped —
  *    their romanization is a per-word dictionary problem (readings
  *    depend on context), out of scope for a char-table pass;
  *  - BOM (U+FEFF) and NUL dropped in the same pass;
  *  - a generic NFKD compatibility fallback for every remaining BMP
  *    char whose decomposition is short pure ASCII — ligatures
  *    (ﬁ→fi), fullwidth forms (Ａ→A), digraphs (Ǆ→DZ), №→No, Roman
  *    numerals, letterlike symbols (™→TM, ℕ→N).
  *
  * A chain of `regexp_replace`/`translate` would rescan the string
  * once per rule; this walks it once, and the ASCII fast path returns
  * the input buffer untouched (zero copy) — ingest-scan friendly at
  * 100 TB. Codegen emits one static call, keeping the expression
  * inside whole-stage codegen.
  */
case class Transliterate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_translit expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    Transliterate.translit(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Transliterate.translit($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Transliterate {

  /** Mapping table indexed by code point; null = identity. Multi-char
    * expansions are plain Strings, "" means drop. */
  private val table: Array[String] = {
    val t = new Array[String](0x10000)
    // Latin with diacritics: NFD-decompose, strip marks, keep if the
    // base is a single ASCII letter
    (((0xC0 to 0x24F) ++ (0x1E00 to 0x1EFF)).iterator).foreach { cp =>
      val norm = java.text.Normalizer
        .normalize(cp.toChar.toString, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}+", "")
      if (norm.length == 1 && norm.head < 128 && norm.head.isLetter)
        t(cp) = norm
    }
    def put(pairs: (Char, String)*): Unit =
      pairs.foreach { case (c, s) => t(c.toInt) = s }
    // non-decomposable Latin (incl. the Latin Extended-B/Additional
    // stragglers NFD can't reach: stroked/hooked letters, eng, schwa,
    // capital sharp s)
    put('Ø' -> "O", 'ø' -> "o", 'Đ' -> "D", 'đ' -> "d", 'Ł' -> "L", 'ł' -> "l",
      'Ð' -> "D", 'ð' -> "d", 'ß' -> "ss", 'Æ' -> "AE", 'æ' -> "ae",
      'Œ' -> "OE", 'œ' -> "oe", 'Þ' -> "Th", 'þ' -> "th", 'Ĳ' -> "IJ",
      'ĳ' -> "ij", 'ſ' -> "s",
      'ẞ' -> "SS", 'ẟ' -> "d",             // ẞ ẟ
      'Ħ' -> "H", 'ħ' -> "h", 'Ŋ' -> "Ng", 'ŋ' -> "ng",
      'Ŧ' -> "T", 'ŧ' -> "t", 'ƀ' -> "b",        // ƀ
      'Ɓ' -> "B", 'ɓ' -> "b",               // Ɓ ɓ
      'Ɗ' -> "D", 'ɗ' -> "d",               // Ɗ ɗ
      'Ƒ' -> "F", 'ƒ' -> "f",               // Ƒ ƒ
      'Ɠ' -> "G", 'ɠ' -> "g",               // Ɠ ɠ
      'Ə' -> "E", 'ə' -> "e",               // Ə ə (schwa)
      'Ɨ' -> "I", 'ɨ' -> "i",               // Ɨ ɨ
      'Ɲ' -> "N", 'ɲ' -> "n",               // Ɲ ɲ
      'Ƥ' -> "P", 'ƥ' -> "p",               // Ƥ ƥ
      'Ƭ' -> "T", 'ƭ' -> "t",               // Ƭ ƭ
      'Ƴ' -> "Y", 'ƴ' -> "y",               // Ƴ ƴ
      'Ƶ' -> "Z", 'ƶ' -> "z")               // Ƶ ƶ
    // Greek
    put('Α' -> "A", 'α' -> "a", 'Β' -> "B", 'β' -> "b", 'Γ' -> "G", 'γ' -> "g",
      'Δ' -> "D", 'δ' -> "d", 'Ε' -> "E", 'ε' -> "e", 'Ζ' -> "Z", 'ζ' -> "z",
      'Η' -> "E", 'η' -> "e", 'Θ' -> "Th", 'θ' -> "th", 'Ι' -> "I", 'ι' -> "i",
      'Κ' -> "K", 'κ' -> "k", 'Λ' -> "L", 'λ' -> "l", 'Μ' -> "M", 'μ' -> "m",
      'Ν' -> "N", 'ν' -> "n", 'Ξ' -> "X", 'ξ' -> "x", 'Ο' -> "O", 'ο' -> "o",
      'Π' -> "P", 'π' -> "p", 'Ρ' -> "R", 'ρ' -> "r", 'Σ' -> "S", 'σ' -> "s",
      'ς' -> "s", 'Τ' -> "T", 'τ' -> "t", 'Υ' -> "U", 'υ' -> "u", 'Φ' -> "Ph",
      'φ' -> "ph", 'Χ' -> "Kh", 'χ' -> "kh", 'Ψ' -> "Ps", 'ψ' -> "ps",
      'Ω' -> "O", 'ω' -> "o")
    // Cyrillic (Russian core)
    put('А' -> "A", 'а' -> "a", 'Б' -> "B", 'б' -> "b", 'В' -> "V", 'в' -> "v",
      'Г' -> "G", 'г' -> "g", 'Д' -> "D", 'д' -> "d", 'Е' -> "E", 'е' -> "e",
      'Ё' -> "E", 'ё' -> "e", 'Ж' -> "Zh", 'ж' -> "zh", 'З' -> "Z", 'з' -> "z",
      'И' -> "I", 'и' -> "i", 'Й' -> "I", 'й' -> "i", 'К' -> "K", 'к' -> "k",
      'Л' -> "L", 'л' -> "l", 'М' -> "M", 'м' -> "m", 'Н' -> "N", 'н' -> "n",
      'О' -> "O", 'о' -> "o", 'П' -> "P", 'п' -> "p", 'Р' -> "R", 'р' -> "r",
      'С' -> "S", 'с' -> "s", 'Т' -> "T", 'т' -> "t", 'У' -> "U", 'у' -> "u",
      'Ф' -> "F", 'ф' -> "f", 'Х' -> "Kh", 'х' -> "kh", 'Ц' -> "Ts",
      'ц' -> "ts", 'Ч' -> "Ch", 'ч' -> "ch", 'Ш' -> "Sh", 'ш' -> "sh",
      'Щ' -> "Shch", 'щ' -> "shch", 'Ъ' -> "", 'ъ' -> "", 'Ы' -> "Y",
      'ы' -> "y", 'Ь' -> "", 'ь' -> "", 'Э' -> "E", 'э' -> "e", 'Ю' -> "Yu",
      'ю' -> "yu", 'Я' -> "Ya", 'я' -> "ya")
    // accented Greek/Cyrillic (tonos, breathing marks, stress accents):
    // NFD-decompose to the base letter and inherit ITS mapping
    ((0x370 to 0x4FF) ++ (0x1F00 to 0x1FFF)).foreach { cp =>
      if (t(cp) == null) {
        val norm = java.text.Normalizer
          .normalize(cp.toChar.toString, java.text.Normalizer.Form.NFD)
          .replaceAll("\\p{M}+", "")
        if (norm.length == 1 && t(norm.head.toInt) != null)
          t(cp) = t(norm.head.toInt)
      }
    }
    // stripped control/markers
    put('\uFEFF' -> "", '\u0000' -> "")
    // typographic punctuation/space fold (best-effort ASCII, like the
    // reference's unidecode): EDW tapes copy-pasted from documents
    // carry NBSP, smart quotes, en/em dashes, ellipses
    (0x2000 to 0x200A).foreach(cp => t(cp) = " ") // en/em/thin spaces
    (0x200B to 0x200F).foreach(cp => t(cp) = "")  // zero-width + dir marks
    (0x2010 to 0x2015).foreach(cp => t(cp) = "-") // hyphens to horizontal bar
    put('\u00A0' -> " ", '\u2212' -> "-",          // NBSP, minus sign
      '\u2018' -> "'", '\u2019' -> "'", '\u201A' -> "'", '\u201B' -> "'",
      '\u201C' -> "\"", '\u201D' -> "\"", '\u201E' -> "\"", '\u201F' -> "\"",
      '\u2026' -> "...", '\u2022' -> "*", '\u2032' -> "'", '\u2033' -> "''",
      '\u2039' -> "'", '\u203A' -> "'", '\u2044' -> "/",
      '\u00AB' -> "\"", '\u00BB' -> "\"", '\u00A1' -> "!", '\u00BF' -> "?",
      '\u00D7' -> "x", '\u00F7' -> "/", '\u00B1' -> "+-", '\u00B7' -> "-",
      '\u00B9' -> "1", '\u00B2' -> "2", '\u00B3' -> "3",
      '\u00BD' -> "1/2", '\u00BC' -> "1/4", '\u00BE' -> "3/4",
      // currency: the euro sign is the one that actually appears on
      // European securitisation tapes
      '\u20AC' -> "EUR", '\u00A2' -> "c", '\u00A3' -> "PS", '\u00A5' -> "Y")
    // Hangul syllables (U+AC00..U+D7A3) — ALGORITHMIC romanization:
    // every syllable decomposes arithmetically into initial/vowel/final
    // jamo (idx = cp − 0xAC00; i = idx/588, v = (idx%588)/28,
    // f = idx%28), so 11,172 code points reduce to three Revised-
    // Romanization lookup tables. No giant table to maintain.
    locally {
      val ini = Array("g", "kk", "n", "d", "tt", "r", "m", "b", "pp", "s",
        "ss", "", "j", "jj", "ch", "k", "t", "p", "h")
      val vow = Array("a", "ae", "ya", "yae", "eo", "e", "yeo", "ye", "o",
        "wa", "wae", "oe", "yo", "u", "wo", "we", "wi", "yu", "eu", "ui", "i")
      val fin = Array("", "g", "kk", "gs", "n", "nj", "nh", "d", "l", "lg",
        "lm", "lb", "ls", "lt", "lp", "lh", "m", "b", "bs", "s", "ss", "ng",
        "j", "ch", "k", "t", "p", "h")
      (0xAC00 to 0xD7A3).foreach { cp =>
        val idx = cp - 0xAC00
        t(cp) = ini(idx / 588) + vow((idx % 588) / 28) + fin(idx % 28)
      }
    }
    // Kana (Hepburn, per-character best effort — no digraph context):
    // one hiragana table serves katakana too (same romaji at cp+0x60)
    locally {
      val kana = Seq(
        0x3041 -> "a", 0x3042 -> "a", 0x3043 -> "i", 0x3044 -> "i",
        0x3045 -> "u", 0x3046 -> "u", 0x3047 -> "e", 0x3048 -> "e",
        0x3049 -> "o", 0x304A -> "o",
        0x304B -> "ka", 0x304C -> "ga", 0x304D -> "ki", 0x304E -> "gi",
        0x304F -> "ku", 0x3050 -> "gu", 0x3051 -> "ke", 0x3052 -> "ge",
        0x3053 -> "ko", 0x3054 -> "go",
        0x3055 -> "sa", 0x3056 -> "za", 0x3057 -> "shi", 0x3058 -> "ji",
        0x3059 -> "su", 0x305A -> "zu", 0x305B -> "se", 0x305C -> "ze",
        0x305D -> "so", 0x305E -> "zo",
        0x305F -> "ta", 0x3060 -> "da", 0x3061 -> "chi", 0x3062 -> "ji",
        0x3063 -> "", 0x3064 -> "tsu", 0x3065 -> "zu", 0x3066 -> "te",
        0x3067 -> "de", 0x3068 -> "to", 0x3069 -> "do",
        0x306A -> "na", 0x306B -> "ni", 0x306C -> "nu", 0x306D -> "ne",
        0x306E -> "no",
        0x306F -> "ha", 0x3070 -> "ba", 0x3071 -> "pa", 0x3072 -> "hi",
        0x3073 -> "bi", 0x3074 -> "pi", 0x3075 -> "fu", 0x3076 -> "bu",
        0x3077 -> "pu", 0x3078 -> "he", 0x3079 -> "be", 0x307A -> "pe",
        0x307B -> "ho", 0x307C -> "bo", 0x307D -> "po",
        0x307E -> "ma", 0x307F -> "mi", 0x3080 -> "mu", 0x3081 -> "me",
        0x3082 -> "mo",
        0x3083 -> "ya", 0x3084 -> "ya", 0x3085 -> "yu", 0x3086 -> "yu",
        0x3087 -> "yo", 0x3088 -> "yo",
        0x3089 -> "ra", 0x308A -> "ri", 0x308B -> "ru", 0x308C -> "re",
        0x308D -> "ro",
        0x308E -> "wa", 0x308F -> "wa", 0x3090 -> "wi", 0x3091 -> "we",
        0x3092 -> "wo", 0x3093 -> "n",
        0x3094 -> "vu", 0x3095 -> "ka", 0x3096 -> "ke")
      kana.foreach { case (cp, s) =>
        t(cp) = s
        if (cp + 0x60 <= 0x30F6) t(cp + 0x60) = s
      }
      t(0x30F7) = "va"; t(0x30F8) = "vi"; t(0x30F9) = "ve"; t(0x30FA) = "vo"
      t(0x30FB) = "-"  // katakana middle dot (word separator)
      t(0x30FC) = "-"  // prolonged sound mark
      t(0x3001) = ","; t(0x3002) = "."  // ideographic comma / full stop
      t(0x300C) = "\""; t(0x300D) = "\"" // corner brackets
      t(0x3000) = " "                    // ideographic space
    }
    // Arabic base block: per-letter common romanization + Arabic-Indic
    // digits and punctuation (emphatic/plain pairs collapse — lossy by
    // design, like every ASCII romanization)
    locally {
      val ar = Seq(
        0x0621 -> "'", 0x0622 -> "a", 0x0623 -> "a", 0x0624 -> "w",
        0x0625 -> "i", 0x0626 -> "y", 0x0627 -> "a", 0x0628 -> "b",
        0x0629 -> "h", 0x062A -> "t", 0x062B -> "th", 0x062C -> "j",
        0x062D -> "h", 0x062E -> "kh", 0x062F -> "d", 0x0630 -> "dh",
        0x0631 -> "r", 0x0632 -> "z", 0x0633 -> "s", 0x0634 -> "sh",
        0x0635 -> "s", 0x0636 -> "d", 0x0637 -> "t", 0x0638 -> "z",
        0x0639 -> "'", 0x063A -> "gh", 0x0641 -> "f", 0x0642 -> "q",
        0x0643 -> "k", 0x0644 -> "l", 0x0645 -> "m", 0x0646 -> "n",
        0x0647 -> "h", 0x0648 -> "w", 0x0649 -> "a", 0x064A -> "y",
        0x0640 -> "",                       // tatweel (stretching bar)
        0x060C -> ",", 0x061B -> ";", 0x061F -> "?", 0x066A -> "%")
      ar.foreach { case (cp, s) => t(cp) = s }
      (0x064B to 0x065F).foreach(cp => t(cp) = "") // harakat diacritics
      (0x0660 to 0x0669).foreach(cp => t(cp) = ('0' + cp - 0x660).toChar.toString)
      (0x06F0 to 0x06F9).foreach(cp => t(cp) = ('0' + cp - 0x6F0).toChar.toString)
    }
    // generic NFKD fallback for everything still unmapped:
    // compatibility decompositions reach what NFD can't \u2014 ligatures
    // (\uFB01\u2192fi), fullwidth forms (\uFF21\u2192A, \uFF15\u21925), digraphs (\u01C4\u2192DZ), \u2116\u2192No,
    // Roman numerals (\u2167\u2192VIII), \u2115\u2192N, \u2122\u2192TM. Keep a result only when it
    // is short, printable, pure ASCII after stripping combining marks
    (0x80 until 0x10000).iterator
      .filterNot(cp => cp >= 0xD800 && cp <= 0xDFFF) // lone surrogates
      .foreach { cp =>
      if (t(cp) == null) {
        val norm = java.text.Normalizer
          .normalize(cp.toChar.toString, java.text.Normalizer.Form.NFKD)
          .replaceAll("\\p{M}+", "")
        if (norm.nonEmpty && norm.length <= 8 && norm != cp.toChar.toString
            && norm.forall(ch => ch >= 0x20 && ch < 0x7F))
          t(cp) = norm
      }
    }
    t
  }

  /** One-pass transliteration; ASCII-only inputs are returned as the
    * SAME buffer (no copy). Called from generated code. */
  def translit(s: UTF8String): UTF8String = {
    val str = s.toString
    var i = 0
    var dirty = false
    while (i < str.length && !dirty) {
      val c = str.charAt(i)
      if ((c >= 0x80 || c == '\u0000') && table(c.toInt) != null) dirty = true
      i += 1
    }
    if (!dirty) return s
    val sb = new java.lang.StringBuilder(str.length + 8)
    i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      val m = if (c >= 0x80 || c == '\u0000') table(c.toInt) else null
      if (m == null) sb.append(c) else sb.append(m)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def transliterate(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_translit", c)
}
