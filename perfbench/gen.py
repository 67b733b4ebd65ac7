"""Seeded generator of the benchmark's inputs.

Each project is one mzIdentML file plus the MGF files it references, and a
``truth.json`` ground-truth record next to them. The record is derived here,
from the generator's own arithmetic, never from an engine run:

* ``psms`` / ``decoys``: identifications written to the mzIdentML file
  (one rank-1 item per spectrum result; a PSM is a decoy when every
  protein it maps to is a decoy);
* ``survivors``: PSMs with target-decoy q <= 0.01 and peptide length >= 7,
  i.e. the rows ``generate-index-files`` writes to ``archive_spectra``
  (every PSM references its own spectrum, so one row per USI);
* ``spectra``: spectra written to the MGF files (identified or not);
* ``clusters``: the peptide sequence of every planted cluster that keeps
  at least one surviving member. The members of a cluster share a
  precursor m/z, a charge, a peptidoform and a peak template, so native
  clustering of the index should recover exactly these.

The same seed gives byte-identical files.

    python3 perfbench/gen.py --workload small_projects --seed 1 --out DIR

writes DIR/inputs/p00.. (timed projects) and DIR/warm/p00.. (warm-up projects).
"""

import argparse
import json
import os
import random
from decimal import ROUND_HALF_UP, Decimal

AA = "ACDEFGHIKLMNPQRSTVWY"
MONO = {
    "G": 57.02146, "A": 71.03711, "S": 87.03203, "P": 97.05276,
    "V": 99.06841, "T": 101.04768, "C": 103.00919, "L": 113.08406,
    "I": 113.08406, "N": 114.04293, "D": 115.02694, "Q": 128.05858,
    "K": 128.09496, "E": 129.04259, "M": 131.04049, "H": 137.05891,
    "F": 147.06841, "R": 156.10111, "Y": 163.06333, "W": 186.07931,
}
WATER = 18.010565
PROTON = 1.007276
MODS = {"C": ("UNIMOD:4", 57.021464), "M": ("UNIMOD:35", 15.994915)}
PEAKS = 40
Q_THRESHOLD = 0.01
MIN_LENGTH = 7
DECOY_FRACTION = 0.1

# Workload shapes. Every project is distinct: a second pass over the same
# project reuses code generated for its first pass and runs about 10%
# faster, which a user indexing each project once never sees. Small-project
# sizes come from stratified_sizes. The warm-up projects have the
# workload's file layout. small_projects warms up on two because after a
# single one the first timed project was still the slowest of its run in 5
# of 5 runs; for large_project two warm-up projects measured no steadier
# than one of half its size.
WORKLOADS = {
    "large_project": {"projects": 2, "psms": 15000, "warm": (7500,),
                      "shares": (0.5, 0.25, 0.15, 0.10)},
    "small_projects": {"projects": 2, "sizes": (1500, 6000), "warm": (1200, 1200),
                       "shares": (1.0,)},
}


def q_values(psms):
    """Target-decoy q-values as the index pipeline computes them.

    Best first is score descending, then psm id ascending. fdr is
    cumulative decoys over max(cumulative targets, 1); q is the minimum fdr
    at or after a row; a zero q becomes min(positive q) / 10 rounded half
    up to 6 places (NaN when no q is positive).
    """
    order = sorted(range(len(psms)), key=lambda i: (-psms[i]["score"], psms[i]["psm_id"]))
    fdr = [0.0] * len(psms)
    decoys = targets = 0
    for i in order:
        if psms[i]["decoy"]:
            decoys += 1
        else:
            targets += 1
        fdr[i] = decoys / max(targets, 1)
    q = [0.0] * len(psms)
    running = float("inf")
    for i in reversed(order):
        running = min(running, fdr[i])
        q[i] = running
    positive = [v for v in q if v > 0.0]
    if positive:
        repaired = float(Decimal(repr(min(positive) / 10.0)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))
    else:
        repaired = float("nan")
    return [v if v > 0.0 else repaired for v in q]


def peptide(rng, lo, hi):
    body = "".join(rng.choice(AA) for _ in range(rng.randint(lo, hi) - 1))
    return body + rng.choice("KR")


def mods_of(rng, seq):
    """Fixed carbamidomethyl on every C, variable oxidation on some M."""
    mods = []
    for pos, res in enumerate(seq, start=1):
        if res == "C" or (res == "M" and rng.random() < 0.3):
            mods.append((pos,) + MODS[res])
    return mods


def precursor_mz(seq, mods, charge):
    mass = sum(MONO[r] for r in seq) + WATER + sum(m[2] for m in mods)
    return (mass + charge * PROTON) / charge


def peak_template(rng):
    masses = sorted(rng.uniform(150.0, 1900.0) for _ in range(PEAKS))
    return [(m, rng.uniform(10.0, 1000.0)) for m in masses]


def jitter(rng, template):
    return [(m + rng.uniform(-0.004, 0.004), i * rng.uniform(0.8, 1.2)) for m, i in template]


def write_mgf(path, title, spectra):
    with open(path, "w", newline="\n") as f:
        for i, s in enumerate(spectra):
            f.write(f"BEGIN IONS\nTITLE={title}.{i}\nPEPMASS={s['mz']:.5f}\n"
                    f"CHARGE={s['charge']}+\nRTINSECONDS={s['rt']:.3f}\n")
            f.write("".join(f"{m:.4f} {a:.1f}\n" for m, a in s["peaks"]))
            f.write("END IONS\n")


def write_mzid(path, mgf_names, psms):
    """psms: dicts with psm_id, seq, mods, proteins, decoy, score, charge,
    mz, file (index into mgf_names) and index (0-based spectrum)."""
    peptides, evidence, proteins = {}, {}, {}
    for p in psms:
        key = (p["seq"], tuple(p["mods"]))
        pep = peptides.setdefault(key, f"PEP_{len(peptides) + 1}")
        p["pep_ref"] = pep
        refs = []
        for acc in p["proteins"]:
            db = proteins.setdefault(acc, f"DBSeq_{len(proteins) + 1}")
            ev = evidence.setdefault((pep, acc), (f"PE_{len(evidence) + 1}", db, p["decoy"]))
            refs.append(ev[0])
        p["ev_refs"] = refs
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n',
           '<MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1" '
           'id="perfbench" version="1.1.0">\n<SequenceCollection>\n']
    for acc, db in proteins.items():
        out.append(f'<DBSequence id="{db}" accession="{acc}" searchDatabase_ref="SDB_1"/>\n')
    for (seq, mods), pep in peptides.items():
        out.append(f'<Peptide id="{pep}"><PeptideSequence>{seq}</PeptideSequence>')
        for pos, acc, delta in mods:
            out.append(f'<Modification location="{pos}" monoisotopicMassDelta="{delta}">'
                       f'<cvParam cvRef="UNIMOD" accession="{acc}" name="{acc}"/></Modification>')
        out.append("</Peptide>\n")
    for (pep, _acc), (ev, db, decoy) in evidence.items():
        flag = "true" if decoy else "false"
        out.append(f'<PeptideEvidence id="{ev}" peptide_ref="{pep}" '
                   f'dBSequence_ref="{db}" isDecoy="{flag}"/>\n')
    out.append("</SequenceCollection>\n<DataCollection>\n<Inputs>\n")
    for k, name in enumerate(mgf_names):
        out.append(f'<SpectraData id="SD_{k + 1}" location="{name}"><FileFormat>'
                   '<cvParam cvRef="PSI-MS" accession="MS:1001062" name="Mascot MGF format"/>'
                   '</FileFormat><SpectrumIDFormat><cvParam cvRef="PSI-MS" '
                   'accession="MS:1000774" name="multiple peak list nativeID format"/>'
                   '</SpectrumIDFormat></SpectraData>\n')
    out.append('</Inputs>\n<AnalysisData>\n<SpectrumIdentificationList id="SIL_1">\n')
    for n, p in enumerate(psms, start=1):
        out.append(f'<SpectrumIdentificationResult id="SIR_{n}" spectrumID="index={p["index"]}" '
                   f'spectraData_ref="SD_{p["file"] + 1}">\n'
                   f'<SpectrumIdentificationItem id="{p["sii"]}" rank="1" '
                   f'chargeState="{p["charge"]}" experimentalMassToCharge="{p["mz"]:.5f}" '
                   f'calculatedMassToCharge="{p["calc_mz"]:.5f}" peptide_ref="{p["pep_ref"]}" '
                   'passThreshold="true">\n')
        out.extend(f'<PeptideEvidenceRef peptideEvidence_ref="{ev}"/>\n' for ev in p["ev_refs"])
        out.append(f'<cvParam cvRef="PSI-MS" accession="MS:1002049" name="MS-GF:RawScore" '
                   f'value="{p["score"]!r}"/>\n</SpectrumIdentificationItem>\n'
                   '</SpectrumIdentificationResult>\n')
    out.append("</SpectrumIdentificationList>\n</AnalysisData>\n</DataCollection>\n</MzIdentML>\n")
    with open(path, "w", newline="\n") as f:
        f.write("".join(out))


def _psm(rng, mzid, n, ident, decoy, score, n_proteins):
    mz = precursor_mz(ident["seq"], ident["mods"], ident["charge"])
    accs = sorted({f"P{rng.randrange(n_proteins):05d}" for _ in range(rng.choice((1, 1, 2)))})
    if decoy:
        accs = ["DECOY_" + a for a in accs]
    sii = f"SII_{n}"
    return {"sii": sii, "psm_id": f"{mzid}:{sii}", "seq": ident["seq"], "mods": ident["mods"],
            "proteins": accs, "decoy": decoy, "score": score, "charge": ident["charge"],
            "mz": mz + rng.uniform(-0.002, 0.002), "calc_mz": mz}


def project(out_dir, accession, rng, n_psms, shares):
    """A search result with every PSM on its own spectrum, plus 10%
    unidentified spectra spread over the MGF files by ``shares``.

    Confident targets (90% of targets) identify peptidoforms drawn from a
    pool a third their number, so a peptidoform is seen about three times;
    its spectra share one peak template and precursor, which plants a
    cluster. Other targets and decoys score lower and carry a peptide and a
    spectrum of their own (singleton clusters). Peptides are distinct up to
    I/L, so no two clusters share a sequence."""
    os.makedirs(out_dir, exist_ok=True)
    mzid = f"{accession}.mzid"
    n_proteins = max(50, n_psms // 8)
    seen = set()

    def identity():
        while True:
            seq = peptide(rng, 5, 22)
            if seq.replace("L", "I") not in seen:
                seen.add(seq.replace("L", "I"))
                return {"seq": seq, "mods": mods_of(rng, seq), "charge": rng.choice((2, 2, 3)),
                        "peaks": peak_template(rng), "members": []}

    pool = [identity() for _ in range(max(1, n_psms // 3))]
    psms, singletons = [], []
    for n in range(1, n_psms + 1):
        decoy = rng.random() < DECOY_FRACTION
        confident = not decoy and rng.random() < 0.9
        score = rng.gauss(110.0, 20.0) if confident else rng.gauss(45.0, 15.0)
        ident = rng.choice(pool) if confident else identity()
        p = _psm(rng, mzid, n, ident, decoy, score, n_proteins)
        p["peaks"] = jitter(rng, ident["peaks"])
        ident["members"].append(p)
        if not confident:
            singletons.append(ident)
        psms.append(p)
    names = [f"{accession}_run{k + 1}.mgf" for k in range(len(shares))]
    spectra = [[] for _ in shares]
    for p in psms:
        k = _pick(rng, shares)
        p["file"], p["index"] = k, len(spectra[k])
        spectra[k].append({"mz": p["mz"], "charge": p["charge"],
                           "rt": rng.uniform(60.0, 7200.0), "peaks": p["peaks"]})
    for _ in range(n_psms // 10):
        k = _pick(rng, shares)
        spectra[k].append({"mz": rng.uniform(350.0, 1500.0), "charge": rng.choice((2, 3)),
                           "rt": rng.uniform(60.0, 7200.0), "peaks": peak_template(rng)})

    kept = {p["psm_id"] for p, q in zip(psms, q_values(psms))
            if q <= Q_THRESHOLD and len(p["seq"]) >= MIN_LENGTH}
    clusters = sorted(i["seq"] for i in pool + singletons
                      if any(p["psm_id"] in kept for p in i["members"]))
    for name, specs in zip(names, spectra):
        write_mgf(os.path.join(out_dir, name), name[:-4], specs)
    write_mzid(os.path.join(out_dir, mzid), names, psms)
    truth = {"accession": accession, "psms": len(psms),
             "decoys": sum(1 for p in psms if p["decoy"]), "survivors": len(kept),
             "spectra": sum(len(s) for s in spectra), "clusters": clusters}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
        f.write("\n")
    return truth


def _pick(rng, shares):
    x, acc = rng.random(), 0.0
    for k, s in enumerate(shares):
        acc += s
        if x < acc:
            return k
    return len(shares) - 1


def stratified_sizes(rng, n, lo, hi):
    """n sizes in [lo, hi], one near the middle of each equal-width stratum
    (seeded jitter of +-5% of the stratum), in seeded order. Every seed then
    has nearly the same total size, so seeds differ in content, not load."""
    sizes = [int(lo + (hi - lo) * (i + 0.5 + 0.1 * (rng.random() - 0.5)) / n) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def generate(workload, seed, out):
    """Write the workload's timed projects under ``out/inputs`` and its
    warm-up projects under ``out/warm`` (one directory per project); return
    the ground-truth records of the timed projects."""
    shape = WORKLOADS[workload]
    rng = random.Random(f"perfbench:{workload}:{seed}")
    for i, n in enumerate(shape["warm"]):
        project(os.path.join(out, "warm", f"p{i:02d}"), f"PXD8{i:05d}", rng, n, shape["shares"])
    if "sizes" in shape:
        sizes = stratified_sizes(rng, shape["projects"], *shape["sizes"])
    else:
        sizes = [shape["psms"]] * shape["projects"]
    return [project(os.path.join(out, "inputs", f"p{i:02d}"), f"PXD9{i:05d}", rng, n,
                    shape["shares"])
            for i, n in enumerate(sizes)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    truths = generate(a.workload, a.seed, a.out)
    print(json.dumps({"projects": len(truths), "psms": sum(t["psms"] for t in truths)}))


if __name__ == "__main__":
    main()
