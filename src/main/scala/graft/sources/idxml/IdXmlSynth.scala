package graft.sources.idxml

import java.nio.file.Files

/** Deterministic many-run idXML corpus for the oracle path (the idXML twin
  * of [[graft.sources.mzml.MzmlSynth]]).
  *
  * PsmConvertSpec proves the per-element parse semantics on hand-written
  * fixtures; this synthesizer gives the SOURCE a full DuckDB hash-match:
  * every run's PeptideIdentifications/PeptideHits are pure arithmetic (no
  * RNG), so the PSM table the scan + explode + score-dispatch pipeline
  * assembles (reference contract: psm_conversion.py:13-35,87-108) is known
  * in closed form and emitted as a VALUES oracle by `expectedPsms`.
  *
  * Coverage by construction: odd runs are single-engine Comet (per-hit
  * id_scores label, psm_conversion.py:148-153), even runs are ConsensusID
  * over MS-GF+/Comet/Sage with a q-value score type (consensus global
  * q-value fallback, psm_conversion.py:143-147); hits cycle through plain /
  * internal-mod / N-term-mod / decoy sequences; q-value metas alternate
  * between MS:1001491, `q-value`, and absent; the last peptide id of every
  * run carries an unparseable spectrum_reference (the skip-with-warning row,
  * psm_conversion.py:123-128). All doubles are emitted and re-parsed from
  * the same decimal text in both engines, so the hash compare is exact.
  */
object IdXmlSynth {

  /** One synthesized hit with everything the PSM assembly reads. */
  private case class SynthHit(
      sequence: String, unmodified: String, decoy: Boolean,
      charge: Int, score: Double,
      msQ: Option[Double], metaQ: Option[Double], cs: Option[Double],
      proteins: Seq[(String, Int, Int)])

  private val seqs = Vector(
    ("PEPTIDEK", "PEPTIDEK", false),
    ("AC(Carbamidomethyl)DEFGHIK", "ACDEFGHIK", false),
    (".(Acetyl)MKWVTFISLLK", "MKWVTFISLLK", false),
    ("DECOYSEQR", "DECOYSEQR", true))

  private def hit(r: Int, i: Int, h: Int): SynthHit = {
    val k = r + i + h
    val (seq, unmod, decoy) = seqs(k % 4)
    SynthHit(
      sequence = seq, unmodified = unmod, decoy = decoy,
      charge = 2 + k % 2,
      score = ((r * 7 + i * 3 + h) % 13) * 0.25,
      msQ = if (k % 3 == 0) Some((k % 4) * 0.125) else None,
      metaQ = if (k % 3 == 1) Some((k % 5) * 0.0625) else None,
      cs = if (h == 0) Some(((r + i) % 4) * 0.25) else None,
      proteins =
        if (k % 4 % 2 == 0) Seq(("PH_0", 10 + i, 17 + i))
        else Seq(("PH_0", 5 + i, 12 + i), ("PH_1", 7 + i, 14 + i)))
  }

  private def isConsensus(r: Int) = r % 2 == 0
  private def rt(r: Int, i: Int) = 100.0 + 10 * i + r * 0.5
  private def mz(r: Int, i: Int) = 400.0 + i * 0.5 + r * 0.25
  private def acc(r: Int, ph: String) = f"ACC$r%02d${if (ph == "PH_0") "A" else "B"}"
  // the last pep id of every run has no parseable scan → dropped by the
  // scan_number filter in both the engine and the closed form
  private def specRef(i: Int, peps: Int): String =
    if (i == peps - 1) "index=bad" else s"controllerType=0 controllerNumber=1 scan=${i + 1}"

  /** Stage (once) and return the paths of `n` synthetic idXML runs:
    * fixture `idxml_runs` of [[graft.Fixtures]], keyed on the generator
    * parameters. Bump its version whenever `runXml` changes what it
    * writes.
    */
  def stagedRuns(n: Int, pepsPerRun: Int, hitsPerPep: Int): Seq[String] = {
    val names = (1 to n).map(r => f"run$r%02d.idXML")
    val dir = graft.Fixtures.stage("idxml_runs", 1,
        graft.Fixtures.Params(n, pepsPerRun, hitsPerPep), names) { tmp =>
      Files.createDirectories(tmp)
      names.zipWithIndex.foreach { case (f, i) =>
        Files.writeString(tmp.resolve(f), runXml(i + 1, pepsPerRun, hitsPerPep))
      }
    }
    names.map(dir.resolve(_).toString)
  }

  /** One assembled-PSM row the `s2b_idxml_many_runs` projection must
    * produce (arrays pre-joined with '|'; options are SQL NULLs).
    */
  case class ExpectedPsm(
      file_name: String, scan_number: Int, sequence: String, peptidoform: String,
      charge: Int, retention_time: Double, exp_mass_to_charge: Double,
      is_decoy: Int, global_qvalue: Option[Double], consensus_support: Option[Double],
      reference_file_name: String, engines: String, scores: String, proteins: String)

  /** The PSM table in closed form, computed from the SAME arithmetic that
    * generates the XML — no disk, no parser. Mirrors PsmConvert.convert
    * with exportDecoyPsm = true and no ms2 side.
    */
  def expectedPsms(n: Int, pepsPerRun: Int, hitsPerPep: Int): Seq[ExpectedPsm] =
    for {
      r <- 1 to n
      i <- 0 until pepsPerRun
      if i != pepsPerRun - 1 // the unparseable-scan pep id is filtered out
      h <- 0 until hitsPerPep
    } yield {
      val ht = hit(r, i, h)
      val consensus = isConsensus(r)
      val globalQ = ht.msQ.orElse(ht.metaQ)
        .orElse(if (consensus) Some(ht.score) else None) // score_type is a q-value
      ExpectedPsm(
        file_name = f"run$r%02d.idXML",
        scan_number = i + 1,
        sequence = ht.unmodified,
        peptidoform = ht.sequence,
        charge = ht.charge,
        retention_time = rt(r, i),
        exp_mass_to_charge = mz(r, i),
        is_decoy = if (ht.decoy) 1 else 0,
        global_qvalue = globalQ,
        consensus_support = if (consensus) ht.cs else None,
        reference_file_name = f"run$r%02d",
        engines = if (consensus) "MS-GF+|Comet|Sage" else "Comet",
        scores = if (consensus) "" else s"Comet:Expectation value: ${ht.score}",
        proteins = ht.proteins.map(p => acc(r, p._1)).mkString("|"))
    }

  private def runXml(r: Int, peps: Int, hitsPerPep: Int): String = {
    val consensus = isConsensus(r)
    val runTag = f"run$r%02d"
    val seParams =
      if (!consensus) ""
      else Seq("MS-GF+", "Comet", "Sage")
        .map(e => s"""<UserParam type="string" name="SE:$e" value="1.0"/>""")
        .mkString("\n")
    val protHits = Seq("PH_0", "PH_1").map(id =>
      s"""<ProteinHit id="$id" accession="${acc(r, id)}" score="0.0" sequence=""/>""")
      .mkString("\n")
    val scoreType = if (consensus) "q-value" else "expect"
    val engine = if (consensus) "ConsensusID_best" else "Comet"
    val pepXml = (0 until peps).map { i =>
      val hitXml = (0 until hitsPerPep).map { h =>
        val ht = hit(r, i, h)
        val metas = Seq(
          Some(s"""<UserParam type="string" name="target_decoy" value="${if (ht.decoy) "decoy" else "target"}"/>"""),
          ht.msQ.map(v => s"""<UserParam type="float" name="MS:1001491" value="$v"/>"""),
          ht.metaQ.map(v => s"""<UserParam type="float" name="q-value" value="$v"/>"""),
          ht.cs.map(v => s"""<UserParam type="float" name="consensus_support" value="$v"/>"""),
        ).flatten.mkString("\n")
        val refs = ht.proteins.map(_._1).mkString(" ")
        val starts = ht.proteins.map(_._2).mkString(" ")
        val ends = ht.proteins.map(_._3).mkString(" ")
        s"""<PeptideHit score="${ht.score}" sequence="${ht.sequence}" charge="${ht.charge}" start="$starts" end="$ends" protein_refs="$refs">
           |$metas
           |</PeptideHit>""".stripMargin
      }.mkString("\n")
      s"""<PeptideIdentification score_type="$scoreType" higher_score_better="false" significance_threshold="0" MZ="${mz(r, i)}" RT="${rt(r, i)}" spectrum_reference="${specRef(i, peps)}">
         |$hitXml
         |</PeptideIdentification>""".stripMargin
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<IdXML version="1.5" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
       |<SearchParameters id="SP_0" db="synth.fasta" db_version="" taxonomy="" mass_type="monoisotopic" charges="" enzyme="trypsin" missed_cleavages="2" precursor_peak_tolerance="10" precursor_peak_tolerance_ppm="true" peak_mass_tolerance="0.02" peak_mass_tolerance_ppm="false">
       |$seParams
       |</SearchParameters>
       |<IdentificationRun date="2024-03-01T10:00:00" search_engine="$engine" search_engine_version="1.0" search_parameters_ref="SP_0">
       |<ProteinIdentification score_type="" higher_score_better="true" significance_threshold="0">
       |$protHits
       |<UserParam type="stringList" name="spectra_data" value="[$runTag.mzML]"/>
       |</ProteinIdentification>
       |$pepXml
       |</IdentificationRun>
       |</IdXML>""".stripMargin
  }
}
