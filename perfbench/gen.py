"""Seeded input generator for the reference-chain benchmark.

Every input is drawn from ``numpy.random.default_rng`` keyed on the seed, so
the same seed gives byte-identical files. Alongside the inputs the generator
writes ``expected.tsv``: the counts each chain must produce, derived from the
same draws (rows per table and per run, the sum of ``num_peaks``, PSMs,
decoys, unparseable scans, MSstats rows after the filters, unmatched runs).

Inputs:
  * DDA: one mzML per run with interleaved MS1/MS2 spectra (zlib-compressed
    64-bit arrays; the first spectrum of a run is an MS2 without a parent
    MS1) and one idXML per run (decoys, q-values on both sides of 0.01,
    unparseable spectrum references, ids on scans that have no MS2 peaks).
  * DIA: one DIA-NN ``report.parquet`` written as a single file, with
    UniMod and bracket-mass modification tags, decoys, zero and missing
    quantities, q-values on both sides of the threshold, and a legacy
    two-table design that leaves at least one report run out.
"""

import base64
import os
import shutil
import zlib

import numpy as np

# Bump whenever the generated bytes change. The staging key holds it, the
# workload's shape and the seed, so a stale input can never be reused.
GEN_VERSION = 4

QVALUE_THRESHOLD = 0.01

WORKLOADS = {
    "dda_many_runs": dict(kind="dda", runs=4, spectra=600, peaks=256),
    "dia_msstats": dict(kind="dia", runs=24, rows_per_run=1500),
}

RESIDUES = np.array(list("ACDEFGHIKLMNPQRSTVWY"))


def stage(root, workload, seed):
    """Generate the inputs for (workload, seed) under ``root`` once.

    Returns the staging directory. Other seeds' directories for the same
    workload are evicted so the checkout does not grow without bound.
    """
    params = WORKLOADS[workload]
    shape = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    key = f"{workload}-g{GEN_VERSION}-{shape}-s{seed}"
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    os.makedirs(root, exist_ok=True)
    for name in os.listdir(root):
        if name.startswith(workload + "-") and name != key:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = {"seed": seed}
    if params["kind"] == "dda":
        _dda(tmp, seed, params, expected)
    else:
        _dia(tmp, seed, params, expected)
    with open(os.path.join(tmp, "expected.tsv"), "w") as f:
        for k, v in expected.items():
            f.write(f"{k}\t{v}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "_READY"), "w").close()
    return out


# ---------------------------------------------------------------- DDA inputs


def _b64(values):
    raw = np.asarray(values, dtype="<f8").tobytes()
    return base64.b64encode(zlib.compress(raw)).decode("ascii")


def _array_xml(values, accession, name):
    enc = _b64(values)
    return (
        f'<binaryDataArray encodedLength="{len(enc)}">'
        '<cvParam cvRef="MS" accession="MS:1000523" name="64-bit float"/>'
        '<cvParam cvRef="MS" accession="MS:1000574" name="zlib compression"/>'
        f'<cvParam cvRef="MS" accession="{accession}" name="{name}"/>'
        f"<binary>{enc}</binary></binaryDataArray>"
    )


def _mzml(rng, run, n_spectra, peaks):
    """One run. Returns (xml, per-spectrum records)."""
    levels = [2]  # the first spectrum is an MS2 with no parent MS1
    while len(levels) < n_spectra:
        levels.append(1)
        levels.extend([2] * int(rng.integers(3, 9)))
    levels = levels[:n_spectra]

    parts = [
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<indexedmzML xmlns="http://psi.hupo.org/ms/mzml">\n'
        '<mzML xmlns="http://psi.hupo.org/ms/mzml" version="1.1.0">\n'
        f'<run id="{run}" startTimeStamp="2024-03-01T10:15:30Z">\n'
        f'<spectrumList count="{n_spectra}" defaultDataProcessingRef="dp">\n'
    ]
    records = []
    parent_mz = None
    rt = 0.0
    for i, level in enumerate(levels):
        rt += float(rng.uniform(0.05, 0.3))
        n = int(rng.integers(peaks // 2, peaks * 3 // 2 + 1))
        mz = np.sort(rng.uniform(300.0, 1500.0, n))
        # integral intensities, as ion counts: their low mantissa bits are
        # zero, so zlib and gzip find something to compress
        inten = np.floor(rng.uniform(1e3, 1e6, n))
        scan = i + 1
        precursor = ""
        if level == 1:
            parent_mz = mz
        else:
            if parent_mz is not None:
                pmz = float(parent_mz[int(rng.integers(0, len(parent_mz)))]) + 0.001
            else:
                pmz = float(rng.uniform(400.0, 1200.0))
            charge = int(rng.integers(2, 5))
            annotated = ""
            if rng.random() < 0.3:
                annotated = (
                    '<cvParam cvRef="MS" accession="MS:1000042" name="peak intensity" '
                    f'value="{float(rng.uniform(1e4, 1e6)):.4f}"/>'
                )
            precursor = (
                '<precursorList count="1"><precursor><isolationWindow>'
                f'<cvParam cvRef="MS" accession="MS:1000827" name="isolation window target m/z" value="{pmz:.6f}"/>'
                '<cvParam cvRef="MS" accession="MS:1000828" name="isolation window lower offset" value="0.8"/>'
                '<cvParam cvRef="MS" accession="MS:1000829" name="isolation window upper offset" value="0.8"/>'
                "</isolationWindow><selectedIonList count=\"1\"><selectedIon>"
                f'<cvParam cvRef="MS" accession="MS:1000744" name="selected ion m/z" value="{pmz:.6f}"/>'
                f'<cvParam cvRef="MS" accession="MS:1000041" name="charge state" value="{charge}"/>'
                f"{annotated}</selectedIon></selectedIonList><activation/></precursor></precursorList>"
            )
        records.append((scan, level, n, i > 0 or level == 1))
        parts.append(
            f'<spectrum index="{i}" id="controllerType=0 controllerNumber=1 scan={scan}" '
            f'defaultArrayLength="{n}">'
            f'<cvParam cvRef="MS" accession="MS:1000511" name="ms level" value="{level}"/>'
            '<scanList count="1"><scan>'
            f'<cvParam cvRef="MS" accession="MS:1000016" name="scan start time" value="{rt:.4f}" '
            'unitAccession="UO:0000010" unitName="second"/></scan></scanList>'
            f"{precursor}"
            '<binaryDataArrayList count="2">'
            f'{_array_xml(mz, "MS:1000514", "m/z array")}'
            f'{_array_xml(inten, "MS:1000515", "intensity array")}'
            "</binaryDataArrayList></spectrum>\n"
        )
    parts.append("</spectrumList>\n</run>\n</mzML>\n</indexedmzML>\n")
    return "".join(parts), records


def _peptide(rng):
    seq = RESIDUES[rng.integers(0, len(RESIDUES), int(rng.integers(7, 21)))]
    out = ".(Acetyl)" if rng.random() < 0.1 else ""
    for aa in seq:
        out += aa
        if aa == "C":
            out += "(Carbamidomethyl)"
        elif aa == "M" and rng.random() < 0.3:
            out += "(Oxidation)"
    return out


def _idxml(rng, run, run_index, records):
    """One run's idXML. Returns (xml, counts)."""
    consensus = run_index % 2 == 1
    ms2_scans = [s for s, level, _, _ in records if level == 2]
    ms1_scans = [s for s, level, _, _ in records if level == 1]
    psms = decoys = unparseable = matched = 0
    pep_xml = []
    for scan in ms2_scans:
        if rng.random() >= 0.6:
            continue
        r = rng.random()
        if r < 0.03:
            ref, parseable, has_ms2 = f"index={scan}", False, False
        elif r < 0.06 and ms1_scans:
            target = ms1_scans[int(rng.integers(0, len(ms1_scans)))]
            ref, parseable, has_ms2 = f"controllerType=0 controllerNumber=1 scan={target}", True, False
        else:
            ref, parseable, has_ms2 = f"controllerType=0 controllerNumber=1 scan={scan}", True, True
        n_hits = int(rng.integers(1, 4))
        hits = []
        for _ in range(n_hits):
            decoy = rng.random() < 0.1
            q = float(rng.uniform(0.0, 0.05))
            q_param = (
                f'<UserParam type="float" name="MS:1001491" value="{q:.6f}"/>'
                if rng.random() < 0.5
                else f'<UserParam type="float" name="q-value" value="{q:.6f}"/>'
            )
            prots = sorted(set(int(p) for p in rng.integers(0, 10, int(rng.integers(1, 3)))))
            refs = " ".join(f"PH_{p}" for p in prots)
            starts = " ".join(str(int(rng.integers(1, 400))) for _ in prots)
            ends = " ".join(str(int(rng.integers(400, 800))) for _ in prots)
            cs = (
                f'<UserParam type="float" name="consensus_support" value="{float(rng.random()):.4f}"/>'
                if consensus
                else ""
            )
            hits.append(
                f'<PeptideHit score="{float(rng.uniform(0, 10)):.6f}" sequence="{_peptide(rng)}" '
                f'charge="{int(rng.integers(2, 5))}" start="{starts}" end="{ends}" protein_refs="{refs}">\n'
                f'<UserParam type="string" name="target_decoy" value="{"decoy" if decoy else "target"}"/>\n'
                f"{q_param}{cs}\n</PeptideHit>"
            )
            if parseable:
                psms += 1
                decoys += int(decoy)
                matched += int(has_ms2)
        unparseable += int(not parseable)
        score_type = "q-value" if consensus else "expect"
        pep_xml.append(
            f'<PeptideIdentification score_type="{score_type}" higher_score_better="false" '
            f'significance_threshold="0" MZ="{float(rng.uniform(400, 1200)):.6f}" '
            f'RT="{float(rng.uniform(0, 3000)):.4f}" spectrum_reference="{ref}">\n'
            + "\n".join(hits)
            + "\n</PeptideIdentification>"
        )
    se_params = (
        "\n".join(
            f'<UserParam type="string" name="SE:{e}" value="1.0"/>' for e in ("MS-GF+", "Comet")
        )
        if consensus
        else ""
    )
    engine = "ConsensusID_best" if consensus else "Comet"
    prot_hits = "\n".join(
        f'<ProteinHit id="PH_{p}" accession="ACC{run_index:02d}_{p}" score="0.0" sequence=""/>'
        for p in range(10)
    )
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<IdXML version="1.5" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">\n'
        '<SearchParameters id="SP_0" db="synth.fasta" db_version="" taxonomy="" '
        'mass_type="monoisotopic" charges="" enzyme="trypsin" missed_cleavages="2" '
        'precursor_peak_tolerance="10" precursor_peak_tolerance_ppm="true" '
        'peak_mass_tolerance="0.02" peak_mass_tolerance_ppm="false">\n'
        f"{se_params}\n</SearchParameters>\n"
        f'<IdentificationRun date="2024-03-01T10:00:00" search_engine="{engine}" '
        'search_engine_version="1.0" search_parameters_ref="SP_0">\n'
        '<ProteinIdentification score_type="" higher_score_better="true" significance_threshold="0">\n'
        f"{prot_hits}\n"
        f'<UserParam type="stringList" name="spectra_data" value="[{run}.mzML]"/>\n'
        "</ProteinIdentification>\n" + "\n".join(pep_xml) + "\n</IdentificationRun>\n</IdXML>\n"
    )
    return xml, dict(psms=psms, decoys=decoys, unparseable=unparseable, matched=matched)


def _dda(out, seed, params, expected):
    runs = [f"run{r + 1:02d}" for r in range(params["runs"])]
    expected["runs"] = len(runs)
    expected["items"] = params["runs"] * params["spectra"]
    for idx, run in enumerate(runs):
        rng = np.random.default_rng([seed, idx])
        xml, records = _mzml(rng, run, params["spectra"], params["peaks"])
        with open(os.path.join(out, f"{run}.mzML"), "w") as f:
            f.write(xml)
        idxml, counts = _idxml(rng, run, idx, records)
        with open(os.path.join(out, f"{run}.idXML"), "w") as f:
            f.write(idxml)
        ms2 = [r for r in records if r[1] == 2]
        expected[f"{run}.spectra"] = len(records)
        expected[f"{run}.ms1"] = len(records) - len(ms2)
        expected[f"{run}.ms2"] = len(ms2)
        expected[f"{run}.num_peaks"] = sum(r[2] for r in records)
        expected[f"{run}.ms2_num_peaks"] = sum(r[2] for r in ms2)
        expected[f"{run}.orphan_ms2"] = sum(1 for r in ms2 if not r[3])
        for k, v in counts.items():
            expected[f"{run}.{k}"] = v


# ---------------------------------------------------------------- DIA inputs

# (residue, modification tag) pairs DIA-NN writes; every tag here resolves
# through Peptides.normalizeSequence, so none may survive into the output.
_DIA_MODS = {
    "C": ["(UniMod:4)", "(UNIMOD:4)", "[+57.021464]", "[+57.02]"],
    "M": ["(UniMod:35)", "[+15.99]", "[+15.994915]"],
    "S": ["(UniMod:21)", "[+79.966331]"],
    "T": ["(UniMod:21)"],
    "K": ["(UniMod:121)", "(UniMod:259)"],
    "N": ["(UniMod:7)"],
}


def _dia_peptides(rng, n):
    peptides = []
    for _ in range(n):
        seq = RESIDUES[rng.integers(0, len(RESIDUES), int(rng.integers(7, 21)))]
        s = "(UniMod:1)" if rng.random() < 0.08 else ""
        for aa in seq:
            s += aa
            tags = _DIA_MODS.get(aa)
            if tags and rng.random() < (0.9 if aa == "C" else 0.25):
                s += tags[int(rng.integers(0, len(tags)))]
        if rng.random() < 0.02:
            s += "(SILAC)"
        peptides.append(s)
    return np.array(peptides, dtype=object)


def _dia(out, seed, params, expected):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1000])
    n_runs, per_run = params["runs"], params["rows_per_run"]
    runs = np.array([f"dia_run{r + 1:02d}" for r in range(n_runs)], dtype=object)
    peptides = _dia_peptides(rng, 6000)
    proteins = np.array([f"PROT{p:04d}_HUMAN" for p in range(1500)], dtype=object)
    n = n_runs * per_run

    run_col = np.repeat(runs, per_run)
    pep_idx = rng.integers(0, len(peptides), n)
    qvalue = rng.uniform(0.0, 2 * QVALUE_THRESHOLD, n)
    decoy = (rng.random(n) < 0.05).astype(np.int64)
    quantity = rng.uniform(1e3, 1e7, n)
    zero = rng.random(n) < 0.03
    quantity[zero] = 0.0
    missing = (rng.random(n) < 0.02) & ~zero
    charge = rng.integers(1, 5, n).astype(np.int64)

    n_missing = 2
    dropped = set(rng.choice(runs, n_missing, replace=False).tolist())

    table = pa.table({
        "File.Name": pa.array([f"/data/{r}.mzML" for r in run_col]),
        "Run": pa.array(run_col.tolist()),
        "Protein.Group": pa.array(proteins[pep_idx % len(proteins)].tolist()),
        "Protein.Names": pa.array(proteins[(pep_idx * 7) % len(proteins)].tolist()),
        "Modified.Sequence": pa.array(peptides[pep_idx].tolist()),
        "Precursor.Charge": pa.array(charge),
        "Q.Value": pa.array(qvalue),
        "Global.Q.Value": pa.array(qvalue * 0.5),
        "PEP": pa.array(rng.uniform(0.0, 0.2, n)),
        "Precursor.Quantity": pa.array(quantity, mask=missing),
        "Precursor.Normalised": pa.array(quantity * 0.9, mask=missing),
        "RT": pa.array(rng.uniform(1.0, 120.0, n)),
        "Decoy": pa.array(decoy),
    })
    pq.write_table(table, os.path.join(out, "report.parquet"))

    keep = (qvalue < QVALUE_THRESHOLD) & (decoy != 1) & (missing | (quantity != 0.0))
    in_design = np.array([r not in dropped for r in run_col])
    expected["items"] = n
    expected["runs"] = n_runs
    expected["report_rows"] = n
    expected["rows_after_filters"] = int(keep.sum())
    expected["rows_out"] = int((keep & in_design).sum())
    expected["runs_out"] = n_runs - n_missing
    expected["unmatched_runs"] = n_missing
    expected["dropped"] = ",".join(sorted(dropped))

    samples = {}
    lines = ["Fraction_Group\tFraction\tSpectra_Filepath\tLabel\tSample"]
    for i, run in enumerate(runs):
        if run in dropped:
            continue
        sample = i // 2 + 1
        samples[sample] = i % 3
        lines.append(f"{i + 1}\t1\t{run}.mzML\t1\t{sample}")
    lines.append("")
    lines.append("Sample\tMSstats_Condition\tMSstats_BioReplicate")
    for sample, cond in samples.items():
        lines.append(f"{sample}\tcondition_{cond}\t{sample}")
    with open(os.path.join(out, "design.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
