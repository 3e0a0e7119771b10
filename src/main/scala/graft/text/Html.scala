package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML/boilerplate main-content extraction — the CCNet/RefinedWeb
  * front door: real crawl curation starts from HTML, not clean text,
  * and the first operator is tag stripping + boilerplate removal
  * (nav bars, footers, menus) + main-content selection.
  *
  * The pipeline is the jusText-shaped block heuristic, expressed as
  * pure Column combinators (no UDFs):
  *   1. strip `<!-- -->` comments (they can contain tags and text
  *      that must never leak) and unwrap `<![CDATA[...]]>` sections
  *      (their payload is text);
  *   2. drop <script>/<style> elements wholesale (their TEXT is code,
  *      not content);
  *   3. segment on block-level tags (div/p/nav/footer/...) — inline
  *      markup (<a>, <b>) stays inside its block;
  *   4. score each block: visible text length after tag stripping,
  *      HTML entity decoding, and whitespace collapse, plus LINK
  *      DENSITY via the block's <a> count;
  *   5. keep blocks with >= [[MinBlockChars]] visible chars AND at
  *      least [[CharsPerLink]] chars per link (navigation chrome is
  *      short and link-dense; body text is long and link-sparse);
  *   6. the main content is the kept blocks joined in document order.
  *
  * Real-crawl hardening (callers need not pre-sanitize to ASCII or
  * strip entities/comments):
  *   - tag matching is QUOTED-ATTRIBUTE-SAFE: `<div title="a > b">`
  *     is one tag (the attribute alternation `[^"'>]|"[^"]*"|'[^']*'`
  *     crosses `>` inside quotes) — the naive `[^>]*` split such tags
  *     and leaked `b">` as text;
  *   - tag names match CASE-INSENSITIVELY (`<DIV>`, `</SCRIPT >`) via
  *     inline `(?i)` — identical ASCII semantics in both engines;
  *   - HTML entities decode in a SINGLE pass (never chained replaces,
  *     which double-decode `&amp;lt;` -> `<`): named amp/lt/gt/quot/
  *     apos/nbsp plus numeric `&#NN;` / `&#xHH;` within the ASCII
  *     printable range 32..126. Codepoints outside that range pass
  *     through UNDECODED — Spark's `char()` wraps at 256 while
  *     DuckDB's `chr()` is full Unicode, so the portable contract is
  *     the range where they agree; a production build widens this
  *     behind a native expression. Unknown named entities (`&bad;`)
  *     likewise pass through (they match no pattern alternative);
  *   - entity decode runs AFTER tag stripping (decoding `&lt;b&gt;`
  *     first would fabricate tags — the classic sanitizer bug) and
  *     BEFORE whitespace collapse (so `&nbsp;` merges with its
  *     neighbors);
  *   - whitespace collapse is the explicit class `[ \t\r\n]+`, never
  *     `\s` (whose membership differs between java.util.regex and
  *     RE2 at \x0B) — raw crawl bytes may carry tabs and newlines.
  *
  * Regex parity note (the oracle mirrors this pipeline in DuckDB/RE2
  * while Spark compiles java.util.regex): every pattern below stays
  * inside the syntax/semantics intersection of the two engines —
  * literal tags, explicit character classes, non-greedy `.*?` under
  * `(?s)`, inline `(?i)`, and alternation; no lookaround, no
  * backreferences in MATCHING (the CDATA unwrap uses a capture in
  * the REPLACEMENT, `$1` vs `\1`, which both engines support).
  * [[sqlQuote]] escapes a pattern for embedding in a single-quoted
  * SQL literal so the oracle shares these constants verbatim.
  *
  * Known residual (documented, not silent): a `</script>` literal
  * INSIDE a script-body comment or string still terminates the
  * script block early (the HTML5 escaping-text-span rule needs a
  * stateful parser, not regex) — the leaked remainder is then plain
  * low-scoring text, which the block gate usually drops.
  *
  * 100 TB posture: map-only — a few regex passes plus one
  * split/extract interleave over the html column, no shuffle, no
  * UDF; the per-row cost stays the q34/q35 text-scoring class.
  */
object Html {

  /** Escaped-whitespace class shared by every pattern (never `\s`). */
  private val WS = "[ \\t\\r\\n]"

  /** Attribute run that is safe across `>` inside quoted values. */
  private val Attrs = "(?:[^\"'>]|\"[^\"]*\"|'[^']*')*"

  /** Block-level segmentation tags (opening or closing, any attrs,
    * any case, quoted-attribute-safe). A candidate name only matches
    * when followed by whitespace, `/` or `>` — `<pre>` is NOT a `<p>`.
    */
  val BlockTagPattern: String =
    "(?i)</?(?:html|head|title|body|div|p|h[1-6]|li|ul|ol|nav|footer|" +
      s"header|section|article|aside|td|th|tr|table|br)(?:$WS$Attrs)?/?>"

  /** script/style elements, dropped wholesale (public so the oracle
    * SQL shares the constant).
    */
  val NoisePattern: String =
    s"(?is)<script(?:$WS$Attrs)?>.*?</script$WS*>" +
      s"|<style(?:$WS$Attrs)?>.*?</style$WS*>"

  /** `<!-- -->` comments, tags-and-all. */
  val CommentPattern = "(?s)<!--.*?-->"

  /** CDATA sections; the payload (group 1) is kept as text. */
  val CdataPattern = "(?s)<!\\[CDATA\\[(.*?)\\]\\]>"

  /** One generic tag (or doctype), for visible-text stripping. A
    * stray `<` not opening a name (e.g. `2<3`) is text, not a tag.
    */
  val TagPattern = s"<[!/]?[a-zA-Z]$Attrs>"

  /** One `<a` opening (any case), for link counting. */
  val LinkPattern = s"(?i)<a(?:$WS|>)"

  /** Supported entities, group 1 = the name/numeric payload. */
  val EntityPattern =
    "&(#x[0-9a-fA-F]{1,6}|#[0-9]{1,7}|amp|lt|gt|quot|apos|nbsp);"

  /** Non-capturing twin of [[EntityPattern]] for split(). */
  val EntitySplitPattern: String = EntityPattern.replace("&(", "&(?:")

  /** Minimum visible characters for a block to be content. */
  val MinBlockChars = 25

  /** Minimum visible characters PER LINK (link-density gate):
    * a block with n links needs n * this many chars to survive.
    */
  val CharsPerLink = 40

  /** Escape a pattern for embedding in a single-quoted SQL literal
    * (the attribute alternation carries `'`).
    */
  def sqlQuote(p: String): String = p.replace("'", "''")

  /** Strip comments — FIRST, so commented-out markup never scores. */
  def stripComments(html: Column): Column =
    regexp_replace(html, CommentPattern, " ")

  /** Unwrap CDATA sections, keeping the payload as text. */
  def unwrapCdata(html: Column): Column =
    regexp_replace(html, CdataPattern, "$1")

  /** Remove script/style elements wholesale. */
  def stripNoise(html: Column): Column =
    regexp_replace(html, NoisePattern, " ")

  /** Single-pass HTML entity decode (see object doc for the
    * supported set and the ASCII-printable numeric contract). The
    * text is split AROUND the entities and re-interleaved with each
    * entity's decoded character, so a decoded `&amp;` can never be
    * re-read as the start of another entity.
    */
  def decodeEntities(c: Column): Column = {
    val segs = split(c, EntitySplitPattern, -1)
    val ents = regexp_extract_all(c, lit(EntityPattern), lit(1))
    val dec = transform(ents, e => {
      val cp = when(substring(e, 1, 2) === "#x",
          conv(substring(e, 3, 8), 16, 10).cast("long"))
        .otherwise(substring(e, 2, 9).cast("long"))
      when(e === "amp", lit("&"))
        .when(e === "lt", lit("<"))
        .when(e === "gt", lit(">"))
        .when(e === "quot", lit("\""))
        .when(e === "apos", lit("'"))
        .when(e === "nbsp", lit(" "))
        .otherwise(when(cp.between(32, 126), call_function("char", cp))
          .otherwise(concat(lit("&"), e, lit(";"))))
    })
    concat(
      array_join(zip_with(slice(segs, lit(1), size(ents)), dec,
        (s, d) => concat(s, d)), ""),
      element_at(segs, -1))
  }

  /** Visible text of one block: tags to spaces, entities decoded,
    * whitespace runs collapsed, trimmed. The decode is gated on a
    * literal `&` probe: decodeEntities is the identity on
    * entity-free text (split yields one segment, zero entities) but
    * still pays a split + extract + interleave per block — and most
    * blocks of most pages carry no entity at all, so the cheap
    * `instr` probe skips the machinery wholesale (the oracle decodes
    * unconditionally: identical values, this is cost-only).
    */
  private def visible(b: Column): Column = {
    val stripped = regexp_replace(b, TagPattern, " ")
    val decoded = when(instr(stripped, "&") > 0,
      decodeEntities(stripped)).otherwise(stripped)
    trim(regexp_replace(decoded, s"$WS+", " "))
  }

  /** Link count of one block (<a> openings surviving in the block). */
  private def linkCount(b: Column): Column =
    regexp_count(b, lit(LinkPattern))

  /** Extract main content from an html column. Returns a struct:
    *   - content: kept blocks' visible text joined in document order
    *   - n_blocks: blocks with any visible text
    *   - n_kept: blocks that passed the content gate
    */
  def extractMain(html: Column): Column = {
    val blocks =
      split(stripNoise(unwrapCdata(stripComments(html))),
        BlockTagPattern, -1)
    val vis = transform(blocks, visible(_))
    val links = transform(blocks, linkCount(_))
    val kept = filter(
      zip_with(vis, links, (v, k) =>
        when(length(v) >= MinBlockChars &&
          length(v) >= k * CharsPerLink, v)),
      _.isNotNull)
    struct(
      array_join(kept, " ").as("content"),
      size(filter(vis, v => length(v) > 0)).cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_kept"))
  }
}
