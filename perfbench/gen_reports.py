#!/usr/bin/env python3
"""Seeded report-corpus generator for the `reports_wide` workload.

Writes classifier report TSVs (two `#` lines, a header, then rows in the
`%  reads  taxReads  kmers  dup  cov  taxID  rank  taxName` layout), the
DNA/RNA total-read sidecars `modify_reports` consumes, a taxids CSV for
the filter tools and `corpus.json` (the negative-control group patterns
and the corpus statistics). The same seed gives byte-identical files.

Usage: python3 perfbench/gen_reports.py <seed> <out_dir>
"""
import json
import os
import random
import sys

# Many small files over a small taxa universe, many negative-control
# groups; each sample keeps ~60% of the universe, like a real KrakenUniq
# batch.
SHAPE = {"samples": 96, "taxa": 120, "groups": 8, "density": 0.6}
GENERA = ["Escherichia", "Klebsiella", "Pseudomonas", "Staphylococcus",
          "Streptococcus", "Bacteroides", "Prevotella", "Clostridium"]


def sample_names(shape):
    """Group g has one control `gGGNC` and members `gGGsNNN`; every sample
    belongs to exactly one group, so the group patterns `^gGG` and the
    control patterns `^gGGNC$` each resolve as NcGroups requires."""
    groups = shape["groups"]
    return [f"g{i % groups:02d}NC" if i < groups else f"g{i % groups:02d}s{i:04d}"
            for i in range(shape["samples"])]


def write_corpus(seed, out):
    shape = SHAPE
    rnd = random.Random(f"reports_wide:{seed}")
    reports = os.path.join(out, "reports")
    os.makedirs(reports, exist_ok=True)
    universe = sorted(rnd.sample(range(10, 40 * shape["taxa"]), shape["taxa"]))
    tax_name = {t: f"{GENERA[t % len(GENERA)]} sp{t}" for t in universe}
    # a few names carry KrakenUniq's padding, which the pipeline trims
    for t in rnd.sample(universe, max(1, len(universe) // 50)):
        tax_name[t] = f"  {tax_name[t]} "
    names = sample_names(shape)
    rows = bytes_ = 0
    dna, rna = [], []
    for sample in names:
        lines = [f"# krakenuniq --report-file {sample}_species-level-report.tsv",
                 f"# perfbench seed {seed}",
                 "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName"]
        classified = rnd.randrange(50_000, 5_000_000)
        unclassified = rnd.randrange(10_000, 2_000_000)
        total = classified + unclassified
        lines.append(f"{100 * unclassified / total:.2f}\t{unclassified}\t"
                     f"{unclassified}\t0\t0\t0\t0\tno rank\tunclassified")
        lines.append(f"{100 * classified / total:.2f}\t{classified}\t"
                     f"{classified}\t{classified * 3}\t0\t0\t1\tno rank\troot")
        for t in universe:
            if rnd.random() >= shape["density"]:
                continue
            reads = int(rnd.paretovariate(1.2) * 3)
            kmers = reads * rnd.randrange(2, 40)
            rank = "species" if rnd.random() < 0.9 else "genus"
            lines.append(f"{100 * reads / total:.4f}\t{reads}\t{reads}\t{kmers}\t"
                         f"{rnd.uniform(1, 3):.2f}\t{rnd.uniform(0, 1):.3f}\t"
                         f"{t}\t{rank}\t{tax_name[t]}")
        text = "\n".join(lines) + "\n"
        with open(os.path.join(reports, f"{sample}_species-level-report.tsv"),
                  "w") as f:
            f.write(text)
        rows += len(lines) - 3
        bytes_ += len(text)
        # total reads: the DNA sidecar covers every sample; the RNA sidecar
        # overrides a third of them (RNA wins on collision)
        dna.append(f"{sample}_L001\tdna\t{total}")
        if rnd.random() < 0.33:
            rna.append(f"{sample}_R001\trna\t{total + rnd.randrange(0, 1000)}")
    with open(os.path.join(out, "dna_totalreads.tsv"), "w") as f:
        f.write("\n".join(dna) + "\n")
    with open(os.path.join(out, "rna_totalreads.tsv"), "w") as f:
        f.write("\n".join(rna) + "\n")
    picked = sorted(rnd.sample(universe, max(1, len(universe) // 20)))
    with open(os.path.join(out, "taxids.csv"), "w") as f:
        f.write("taxID\n" + "".join(f"{t}\n" for t in picked))
    groups = [(f"^g{g:02d}NC$", f"^g{g:02d}") for g in range(shape["groups"])]
    corpus = {"workload": "reports_wide", "seed": seed, "groups": groups,
              "stats": {"files": len(names), "rows": rows, "bytes": bytes_,
                        "samples": len(names), "taxa": len(universe),
                        "nc_groups": len(groups)}}
    with open(os.path.join(out, "corpus.json"), "w") as f:
        json.dump(corpus, f, indent=1, sort_keys=True)
    return corpus


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(json.dumps(write_corpus(int(sys.argv[1]), sys.argv[2])["stats"]))
