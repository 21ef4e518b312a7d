package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.NormalizePeptidoform

/** Peptide-string functions, all built from codegen'd Spark expressions — no
  * UDFs in any hot path. [[normalizeSequence]] is one native expression
  * (graft.expressions.NormalizePeptidoform) driven by the two tables below;
  * the others compose built-in Spark functions.
  *
  * Reference semantics:
  *  - trueStem: diann2msstats.py:133-138
  *  - sanitizeSequence: diann2msstats.py:267-269
  *  - normalizeSequence: diann2msstats.py:76-83 (AASequence round-trip)
  *  - modsPosition: psm_conversion.py:41-56
  */
object Peptides {

  // One mod group with ONE level of balanced nesting: OpenMS renders
  // isotope-label names with inner parentheses — "(Label:13C(6)15N(2))" —
  // which the naive "\(([^)]*)\)" would split at the FIRST ')', leaving
  // "15N(2))" residue debris in unmodifiedSequence and phantom mods in
  // modsPosition. PSI-MS names nest at most one level, so the explicit
  // one-level alternation is exact (PropertySpec fuzzes this across the
  // whole unimodNames table).
  private val modGroup = "\\(((?:[^()]|\\([^()]*\\))*)\\)"

  /** Filename stem; double stem for `.d.zip` (Bruker zipped raw dirs).
    * Also strips any directory / URL prefix, matching `pathlib.Path.stem`.
    */
  def trueStem(c: Column): Column = {
    val base = element_at(split(c, "/"), -1)
    when(base.endsWith(".d.zip"), regexp_replace(base, "\\.d\\.zip$", ""))
      .otherwise(regexp_replace(base, "\\.[^.]*$", ""))
  }

  /** Drop the literal "(SILAC)" tag DIA-NN leaves in modified sequences. */
  def sanitizeSequence(c: Column): Column =
    regexp_replace(c, "\\(SILAC\\)", "")

  /** The UniMod accessions DIA-NN commonly reports, and the PSI-MS names
    * OpenMS renders them as. This is the documented subset of the
    * AASequence.fromString(...).toString() round-trip the reference performs
    * (diann2msstats.py:76-83): UniMod bracket tags are canonicalized to
    * their names; anything already name-form is left untouched.
    */
  val unimodNames: Map[Int, String] = Map(
    1 -> "Acetyl", 2 -> "Amidated", 4 -> "Carbamidomethyl", 5 -> "Carbamyl",
    7 -> "Deamidated", 21 -> "Phospho", 23 -> "Dehydrated", 26 -> "Pyro-carbamidomethyl",
    27 -> "Glu->pyro-Glu", 28 -> "Gln->pyro-Glu", 34 -> "Methyl", 35 -> "Oxidation",
    36 -> "Dimethyl", 37 -> "Trimethyl", 121 -> "GG", 188 -> "Label:13C(6)",
    259 -> "Label:13C(6)15N(2)", 267 -> "Label:13C(6)15N(4)", 425 -> "Dioxidation",
    730 -> "iTRAQ8plex", 737 -> "TMT6plex", 2016 -> "TMTpro")

  /** Monoisotopic delta-mass renderings of the [[unimodNames]] subset, as
    * the bracket forms search engines emit: the 2-decimal shorthand
    * (`[+57.02]`) and the 6-decimal monoisotopic form (`[+57.021464]`).
    * OpenMS's AASequence resolves bracket masses against the mod DB by
    * nearest mass within tolerance (diann2msstats.py:76-83 round-trips
    * through it); the documented-subset rule here is an EXACT string match
    * on the two renderings, and any mass AMBIGUOUS at its rendered
    * precision is deliberately absent so it passes through unresolved
    * rather than guessing:
    *  - `-18.01` / `-18.010565`: Dehydrated vs Glu->pyro-Glu (identical
    *    water-loss mass at full precision — only residue context, which a
    *    string rule doesn't see, can separate them);
    *  - `+304.21` at 2dp: iTRAQ8plex (+304.205360) vs TMTpro
    *    (+304.207146) — both keep their distinguishing 6dp entries.
    */
  val massForms: Seq[(String, String)] = Seq(
    "+42.01" -> "Acetyl", "+42.010565" -> "Acetyl",
    "-0.98" -> "Amidated", "-0.984016" -> "Amidated",
    "+57.02" -> "Carbamidomethyl", "+57.021464" -> "Carbamidomethyl",
    "+43.01" -> "Carbamyl", "+43.005814" -> "Carbamyl",
    "+0.98" -> "Deamidated", "+0.984016" -> "Deamidated",
    "+79.97" -> "Phospho", "+79.966331" -> "Phospho",
    "+39.99" -> "Pyro-carbamidomethyl", "+39.994915" -> "Pyro-carbamidomethyl",
    "-17.03" -> "Gln->pyro-Glu", "-17.026549" -> "Gln->pyro-Glu",
    "+14.02" -> "Methyl", "+14.015650" -> "Methyl",
    "+15.99" -> "Oxidation", "+15.994915" -> "Oxidation",
    "+28.03" -> "Dimethyl", "+28.031300" -> "Dimethyl",
    "+42.05" -> "Trimethyl", "+42.046950" -> "Trimethyl",
    "+114.04" -> "GG", "+114.042927" -> "GG",
    "+6.02" -> "Label:13C(6)", "+6.020129" -> "Label:13C(6)",
    "+8.01" -> "Label:13C(6)15N(2)", "+8.014199" -> "Label:13C(6)15N(2)",
    "+10.01" -> "Label:13C(6)15N(4)", "+10.008269" -> "Label:13C(6)15N(4)",
    "+31.99" -> "Dioxidation", "+31.989829" -> "Dioxidation",
    "+229.16" -> "TMT6plex", "+229.162932" -> "TMT6plex",
    "+304.205360" -> "iTRAQ8plex",
    "+304.207146" -> "TMTpro")

  /** Canonicalize a peptidoform: `(UniMod:N)` → `(Name)` for the known
    * subset, bracket delta-mass forms `[+57.02]` / `[+57.021464]` →
    * `(Name)` for the unambiguous [[massForms]] renderings, and an
    * N-terminal leading mod gets OpenMS's `.(Mod)` rendering. A leading
    * `^` marker survives the rewrite untouched, as in the reference's
    * special-casing.
    *
    * One native expression, `graft_normalize_peptidoform`: a single
    * left-to-right pass over the string's bytes that looks each `[…]` body
    * up in [[massForms]] and each `(UniMod:N)` id up in [[unimodNames]]
    * (see graft.expressions.PeptidoformKernel). The match rules are those
    * of one `regexp_replace` per table entry: exact bracket bodies, exact
    * decimal ids (`(UniMod:035)` stays), and a `UniMod` tag that folds
    * case in ASCII only, like Java's `(?i)` (`UNIMOD` matches, a dotless
    * `ı` does not). PeptidoformKernelSpec holds that chain as its oracle.
    *
    * Covered by PropertySpec's grammar fuzz across the full unimodNames
    * table (mixed UniMod/UNIMOD/name forms, N-terminal, multi-mod,
    * nested-paren isotope-label names) plus the massForms table (both
    * renderings, N-terminal bracket mods, ambiguous-mass passthrough):
    * idempotence, residue preservation through unmodifiedSequence, and
    * modsPosition index agreement. Remaining divergence from the OpenMS
    * AASequence round-trip: UniMod ids OUTSIDE the table pass through as
    * `(UniMod:N)`, bracket masses outside the two exact renderings (or
    * ambiguous at their precision, see [[massForms]]) pass through as
    * `[±m]` instead of nearest-mass resolution against the full DB.
    */
  def normalizeSequence(c: Column): Column = NormalizePeptidoform(c)

  /** Plain residue sequence: every `(Mod)` group and terminal-dot marker
    * removed (AASequence.toUnmodifiedString, psm_conversion.py:163).
    */
  def unmodifiedSequence(c: Column): Column =
    regexp_replace(regexp_replace(c, modGroup, ""), "\\.", "")

  /** Positions of `(Mod)` groups in a peptidoform as `"pos-Name"` strings,
    * or null when unmodified. Position 0 = N-terminal mod (leading `.`
    * stripped first); a position counts the residues before the mod,
    * ignoring the characters of earlier mod groups — exactly the reference's
    * marker-walk (psm_conversion.py:41-56), done here as a split + running
    * length fold over the residue segments.
    */
  def modsPosition(c: Column): Column = {
    // a leading `^` multiplex marker (diann2msstats's special-casing) is
    // not a residue: skip it so an N-terminal mod still indexes as 0
    val noCaret = when(c.startsWith("^"), c.substr(lit(2), length(c))).otherwise(c)
    val stripped = when(noCaret.startsWith("."),
      noCaret.substr(lit(2), length(noCaret))).otherwise(noCaret)
    val modNames = regexp_extract_all(stripped, lit(modGroup), lit(1))
    val segs = split(stripped, modGroup)
    // [0, len(seg1), len(seg1)+len(seg2), ...]
    val cums = aggregate(segs, array(lit(0)),
      (acc, seg) => concat(acc, array(element_at(acc, -1) + length(seg))))
    val positions = slice(cums, lit(2), size(modNames))
    when(size(modNames) === 0, lit(null).cast("array<string>"))
      .otherwise(zip_with(positions, modNames,
        (p, m) => concat(p.cast("string"), lit("-"), m)))
  }
}
