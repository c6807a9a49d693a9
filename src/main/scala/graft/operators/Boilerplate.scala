package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-site template (boilerplate) line removal — the cleaning stage between
  * block-level extraction and corpus-level dedup.
  *
  * The in-page extractor ([[graft.functions.html.HtmlStream]]) strips
  * boilerplate it can SEE inside one page (nav/footer blocks by
  * link-density). What it cannot see is the cross-page signal: a cookie
  * banner rendered as plain text, a subscription pitch, a legal footer —
  * content-looking lines that nevertheless repeat on most pages of the same
  * site. CCNet/RefinedWeb-style pipelines remove those by document
  * frequency WITHIN the site: a line is template iff it occurs in at least
  * `fracNum/fracDen` of the site's documents (and at least `minDocs` of
  * them, so tiny sites don't flag everything). Cross-SITE repeated lines
  * are deliberately not template (two sites quoting the same sentence is
  * content, not chrome) — that case belongs to [[Dedup.dedupParagraphs]] /
  * [[Dedup.dedupSpans]].
  *
  * Reference analog: the reference strips per-page boilerplate only
  * (enhanced_extract.py:486-498 removes nav/script/style subtrees); the
  * cross-page frequency tier is the web-scale extension of the same intent.
  *
  * The threshold is a RATIONAL (fracNum/fracDen), compared as
  * `df * fracDen >= fracNum * nDocs` in exact integer arithmetic — the
  * stratified-sampling lesson (a double `ceil` diverges between engines at
  * representable-boundary fractions) applied from the start.
  *
  * Shuffle discipline: one exchange keyed by (site, line) for the document
  * frequencies (two-phase countDistinct; the repeated template line is the
  * hot key, and partial aggregation bounds its reducer to one row per map
  * partition), one broadcast-sized join back (the template set is
  * O(template lines per site) — nav chrome, not corpus), and one exchange
  * keyed by doc id to recompose surviving lines in original order. Line
  * text itself rides the first exchange only; pass `hashLines = true` at
  * 10^12-doc scale to key both sides on xxhash64(site, line) instead (8-byte
  * keys; a within-site collision merges the colliding lines' document
  * frequencies, so the affected lines — expected well under one colliding
  * pair corpus-wide at 64 bits — can be over-removed, but chrome can never
  * LEAK: merged counts only rise, the same one-sidedness argument as
  * [[Dedup.dedupSpans]] hashGrams).
  * Docs whose every line is template recompose to "" (kept as rows: the
  * downstream length gate, not this operator, decides whether empty docs
  * drop).
  */
object Boilerplate {

  /** Remove per-site template lines. Returns one row per input doc:
    * (idCol, siteCol, textCol = cleaned, n_lines, n_removed).
    *
    * @param fracNum/fracDen  template threshold as an exact rational: a line
    *                         is template iff df * fracDen >= fracNum * nDocs
    *                         (df, nDocs = distinct docs within the site)
    * @param minDocs          absolute floor on df (guards 1-2 doc sites)
    * @param hashLines        key the frequency exchange on xxhash64 instead
    *                         of line text (the 10^12-doc path)
    */
  def stripTemplateLines(
      docs: DataFrame,
      idCol: String,
      siteCol: String,
      textCol: String,
      fracNum: Long = 1L,
      fracDen: Long = 2L,
      minDocs: Long = 3L,
      hashLines: Boolean = false
  ): DataFrame = {
    require(fracNum > 0 && fracDen > 0, "template threshold must be a positive rational")
    // null text is treated as empty here (one "" line): the template
    // decision needs a line value, and "" is one — a site of mostly-empty
    // docs legitimately templates the empty line away
    // cached: the scan + split + posexplode is the widest transform here
    // and feeds both the frequency aggregate and the join-back — without
    // the cache it would run twice per action
    val lines = docs
      .select(
        col(idCol),
        col(siteCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "line")))
      .withColumn("lk", if (hashLines) xxhash64(col(siteCol), col("line")) else col("line"))
      .cache()

    // distinct docs per site (the threshold denominator): site-keyed
    // aggregate, a handful of longs per site
    val siteDocs = docs
      .groupBy(col(siteCol))
      .agg(countDistinct(col(idCol)).as("n_site_docs"))

    // document frequency per (site, line); the template set after the
    // threshold is small (chrome lines), so the join back broadcasts
    val template = lines
      .groupBy(col(siteCol), col("lk"))
      .agg(countDistinct(col(idCol)).as("df"))
      .join(siteDocs, siteCol)
      .filter(col("df") >= minDocs && col("df") * fracDen >= col("n_site_docs") * fracNum)
      .select(col(siteCol), col("lk"), lit(true).as("is_template"))

    lines
      .join(template, Seq(siteCol, "lk"), "left")
      .groupBy(col(idCol))
      .agg(
        first(col(siteCol)).as(siteCol),
        count(lit(1)).as("n_lines"),
        sum(when(col("is_template"), 1L).otherwise(0L)).as("n_removed"),
        // original order restored after the shuffle: collect the surviving
        // (pos, line) structs and sort by position (collect_list skips the
        // nulls the `when` leaves for template lines)
        array_join(
          transform(
            array_sort(collect_list(when(col("is_template").isNull, struct(col("pos"), col("line"))))),
            s => s.getField("line")
          ),
          "\n"
        ).as(textCol)
      )
      .select(col(idCol), col(siteCol), col(textCol), col("n_lines"), col("n_removed"))
  }
}
