"""Output checks, run after the benchmark JVM exits (never timed).

Every expected output is recomputed from the generated inputs with DuckDB,
independently of the program, so a fresh seed is checked as strictly as
any other:

- combined CSV, filter CSVs: exact text (the filter outputs as row sets,
  since the tools do not order rows);
- rrpm CSV and tophits CSV: identifiers and counts exact, doubles within
  a relative tolerance of REL_TOL (absolute near zero), NaN equal to NaN;
- synthesized TSVs: every line exact, the `%.4f` percents compared as
  strings, the timestamp line checked for its format only;
- catalog queries: each result of a timed pass equal to its oracle SQL's
  result on the same corpus, columns and rows sorted, doubles bit-exact,
  NaN equal to NaN (the repository's oracle-check semantics).

`reports_wide` writes each iteration's outputs (and those of its untraced
twins) to their own directory. The first set is checked in full; a later
one passes if it is byte-identical to the first (timestamp lines aside)
and is checked in full otherwise. A missing output is a problem, not an
error.
"""
import csv
import glob
import json
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd

REL_TOL = 1e-9
TOPHITS_K = 15
TOTAL_TAXIDS = (0, 1)
REPORT_COLS = ["pct", "reads", "taxReads", "kmers", "dup", "cov", "taxID",
               "rank", "taxName"]


def csv_cell(s):
    """Spark's CSV writer dialect, as the program's sink writes it."""
    if s is None:
        return ""
    if s == "":
        return '""'
    if any(c in s for c in ',"\n\r'):
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return s


def java_fixed4(x):
    """Java's `%.4f`: round half up on the shortest decimal of the double."""
    return str(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def as_float(cell):
    return None if cell == "" else float(cell)


def sample_last_underscore(name):
    return name[:name.rindex("_")] if "_" in name else ""


def read_reports(inputs):
    """Every report row as raw strings, with its file and line position."""
    files = sorted(glob.glob(f"{inputs}/reports/*_species-level-report.tsv"))
    rows = []
    for fi, path in enumerate(files):
        base = os.path.basename(path)
        with open(path) as f:
            lines = [ln.rstrip("\n") for ln in f if not ln.startswith("#")]
        for li, ln in enumerate(lines[1:]):
            cells = ln.split("\t")
            cells += [None] * (len(REPORT_COLS) - len(cells))
            rows.append([fi, li, sample_last_underscore(base),
                         base.split("_")[0]] + cells[:len(REPORT_COLS)])
    return files, rows


class Expected:
    """The pipeline's outputs recomputed in DuckDB from the report TSVs."""

    def __init__(self, inputs):
        self.inputs = inputs
        with open(f"{inputs}/corpus.json") as f:
            self.groups = json.load(f)["groups"]
        self.files, rows = read_reports(inputs)
        con = self.con = duckdb.connect()
        rep = pd.DataFrame(rows, columns=["file_idx", "line_idx", "sample",
                                          "first_token"] + REPORT_COLS)
        con.register("rep_rows", rep)
        con.execute("CREATE TABLE rep AS SELECT * FROM rep_rows")
        samples = []
        for p in self.files:
            s = sample_last_underscore(os.path.basename(p))
            if s not in samples:
                samples.append(s)
        self.samples = samples
        self.ordered = (sorted(samples, key=lambda s: int(s.strip()))
                        if all(re.fullmatch(r"\s*[+-]?\d+\s*", s) for s in samples)
                        else sorted(samples))
        con.register("samples", pd.DataFrame({"sample": samples}))
        con.register("nc", pd.DataFrame(list(self.sample_to_control().items()),
                                        columns=["sample", "nc_sample"]))
        con.execute(f"""
          CREATE VIEW typed AS SELECT file_idx, line_idx, sample,
            TRY_CAST(reads AS BIGINT) AS reads, TRY_CAST(kmers AS BIGINT) AS kmers,
            TRY_CAST(dup AS DOUBLE) AS dup, TRY_CAST("cov" AS DOUBLE) AS cov,
            TRY_CAST("taxID" AS BIGINT) AS taxID, "rank", "taxName"
          FROM rep;
          CREATE TABLE totals AS SELECT sample, SUM(reads) AS total FROM typed
            WHERE taxID IN {TOTAL_TAXIDS} GROUP BY sample;
          CREATE VIEW taxa AS SELECT * FROM typed
            WHERE taxID NOT IN {TOTAL_TAXIDS} AND "rank" = 'species';
          CREATE TABLE meta AS SELECT taxID,
            trim(arg_min("taxName", file_idx::BIGINT * 100000000 + line_idx)) AS name,
            SUM(reads) AS tro FROM taxa GROUP BY taxID;
          CREATE TABLE grid AS
            WITH counts AS (SELECT taxID, sample, SUM(reads) AS reads FROM taxa
                            GROUP BY taxID, sample),
            dense AS (
              SELECT m.taxID, m.name, m.tro, s.sample, COALESCE(c.reads, 0) AS reads
              FROM meta m CROSS JOIN samples s
              LEFT JOIN counts c ON c.taxID = m.taxID AND c.sample = s.sample),
            rpm AS (
              SELECT d.*, d.reads::DOUBLE / (t.total::DOUBLE / 1e6) AS rpm
              FROM dense d JOIN totals t USING (sample)),
            z AS (
              SELECT *, CASE WHEN sd = 0 OR sd IS NULL THEN 'NaN'::DOUBLE
                        ELSE (rpm - av) / sd END AS z
              FROM (SELECT *, AVG(rpm) OVER (PARTITION BY taxID) AS av,
                      STDDEV_POP(rpm) OVER (PARTITION BY taxID) AS sd FROM rpm))
            SELECT z.taxID, z.name, z.tro, z.sample, z.reads, z.rpm, z.z,
              FLOOR(z.rpm)::BIGINT::DOUBLE /
                GREATEST(FLOOR(COALESCE(c.rpm, 1.0))::BIGINT, 1)::DOUBLE AS rrpm
            FROM z LEFT JOIN nc USING (sample)
            LEFT JOIN z c ON c.taxID = z.taxID AND c.sample = nc.nc_sample;
        """)

    def sample_to_control(self):
        groups = []
        for nc_pat, group_pat in self.groups:
            ncs = [s for s in self.samples if re.search(nc_pat, s)]
            assert len(ncs) == 1, f"control pattern {nc_pat} matches {ncs}"
            groups.append((ncs[0], {s for s in self.samples if re.search(group_pat, s)}))
        out = {}
        for s in self.samples:
            for nc, members in groups:
                if s in members:
                    out[s] = nc
                    break
        return out

    def header(self):
        return ["taxID", "taxName", "Total # of Reads"] + self.ordered

    def wide(self, value):
        """{taxID: (name, total, {sample: value})}, ordered by taxID"""
        out = {}
        for tax, name, tro, sample, v in self.con.execute(
                f"SELECT taxID, name, tro, sample, {value} FROM grid "
                "ORDER BY taxID").fetchall():
            out.setdefault(tax, (name, tro, {}))[2][sample] = v
        return out

    def combined_csv(self):
        lines = [",".join(csv_cell(h) for h in self.header())]
        for tax, (name, tro, cells) in self.wide("reads").items():
            lines.append(",".join([str(tax), csv_cell(name), str(tro)] +
                                  [str(cells[s]) for s in self.ordered]))
        return "\n".join(lines) + "\n"

    def tophits(self):
        return self.con.execute(f"""
          WITH ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY sample
                                         ORDER BY rrpm DESC, taxID ASC) AS rk
            FROM grid),
          stats AS (
            SELECT sample, taxID,
              arg_max(kmers, file_idx::BIGINT * 100000000 + line_idx) AS kmers,
              arg_max(dup, file_idx::BIGINT * 100000000 + line_idx) AS dup,
              arg_max(reads, file_idx::BIGINT * 100000000 + line_idx) AS reads,
              arg_max(cov, file_idx::BIGINT * 100000000 + line_idx) AS cov
            FROM taxa GROUP BY sample, taxID)
          SELECT r.sample, r.taxID, r.name, r.rk, r.rrpm, s.kmers, s.dup, s.reads,
            s.cov, CASE WHEN s.reads <> 0 THEN (s.kmers::DOUBLE / s.reads) * s.cov END,
            r.z
          FROM ranked r JOIN stats s USING (sample, taxID)
          WHERE r.rk <= {TOPHITS_K}""").fetchall()


def missing(*paths):
    """A problem naming the first file that does not exist, or None."""
    for p in paths:
        if not os.path.exists(p):
            return f"{os.path.basename(p)} was not written"
    return None


def check_pipeline(exp, results):
    """The three CSVs of one `BigBugData.write`; returns a list of problems."""
    gone = missing(*(f"{results}/{n}_species.csv" for n in ("combined", "rrpm", "tophits")))
    if gone:
        return [gone]
    bad = []
    with open(f"{results}/combined_species.csv") as f:
        if f.read() != exp.combined_csv():
            bad.append("combined_species.csv differs from the recomputation")
    with open(f"{results}/rrpm_species.csv") as f:
        got = list(csv.reader(f))
    want = exp.wide("rrpm")
    if got[:1] != [exp.header()]:
        bad.append("rrpm_species.csv header")
    elif len(got) - 1 != len(want):
        bad.append(f"rrpm_species.csv rows {len(got) - 1} != {len(want)}")
    else:
        for row, (tax, (name, tro, cells)) in zip(got[1:], want.items()):
            if (row[:3] != [str(tax), name, str(tro)] or not all(
                    close(as_float(c), cells[s]) for c, s in zip(row[3:], exp.ordered))):
                bad.append(f"rrpm_species.csv row for taxID {tax}")
                break
    order = {s: i for i, s in enumerate(exp.ordered)}
    want = sorted(exp.tophits(), key=lambda r: (order[r[0]], r[3]))
    with open(f"{results}/tophits_species.csv") as f:
        got = list(csv.reader(f))
    if got[:1] != [["sampleName", "taxID", "taxName", "rank", "rRPM", "kmers", "dup",
                    "reads", "cov", "e_val", "z_score"]]:
        bad.append("tophits_species.csv header")
    elif len(got) - 1 != len(want):
        bad.append(f"tophits_species.csv rows {len(got) - 1} != {len(want)}")
    else:
        for row, w in zip(got[1:], want):
            exact = row[:4] + [row[5], row[7]]
            if exact != [w[0], str(w[1]), w[2], str(w[3]), str(w[5]), str(w[7])] or \
                    not all(close(as_float(row[i]), w[i]) for i in (4, 6, 8, 9, 10)):
                bad.append(f"tophits_species.csv row {row[:4]}")
                break
    return bad


def expected_synth(exp):
    """{file name: [lines]} of `Synthesize.writeCompleteReports`; line 2
    (the run's timestamp) is None."""
    inputs, con = exp.inputs, exp.con
    totals = {}
    for path in ("dna_totalreads.tsv", "rna_totalreads.tsv"):   # RNA wins
        with open(f"{inputs}/{path}") as f:
            for ln in f:
                c = ln.rstrip("\n").split("\t")
                name = c[0].split("/")[-1]
                totals[sample_last_underscore(name)] = int(c[2])
    stats = dict((s, (cl, km)) for s, cl, km in con.execute("""
        SELECT sample,
          COALESCE(SUM(CASE WHEN "rank" = 'species' THEN reads END), 0),
          COALESCE(SUM(CASE WHEN "rank" = 'species' THEN kmers END), 0)
        FROM typed GROUP BY sample""").fetchall())
    species = {}
    for row in con.execute(f"""
        SELECT sample, {", ".join(f'"{c}"' for c in REPORT_COLS)} FROM rep
        WHERE "rank" = 'species' ORDER BY file_idx, line_idx""").fetchall():
        species.setdefault(row[0], []).append(
            "\t".join("" if c is None else c for c in row[1:]))
    out = {}
    for s in sorted(set(stats) & set(totals)):
        total, (classified, kmer_sum) = totals[s], stats[s]
        uncl = max(total - classified, 0)
        lines = [f"# kraken2 --db /path/to/krakendb --threads 8 --paired "
                 f"--output {s}_kraken.out --report {s}_species-level-report.tsv",
                 None, "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName"]
        if uncl > 0:
            lines.append(f"{java_fixed4(uncl / total * 100)}\t{uncl}\t{uncl}\t0\t0\t0"
                         "\t0\tunclassified\tunclassified")
        lines.append(f"{java_fixed4(classified / total * 100)}\t{classified}\t"
                     f"{classified}\t{kmer_sum}\t0\t0\t1\troot\troot")
        out[f"{s}_species-level-report.tsv"] = lines + species.get(s, [])
    return out


TIMESTAMP = re.compile(r"# [A-Z][a-z]{2} [A-Z][a-z]{2} \d{2} \d{2}:\d{2}:\d{2} \d{4}")


def check_synth(want, synth_dir):
    got = sorted(os.listdir(synth_dir)) if os.path.isdir(synth_dir) else []
    if got != sorted(want):
        return [f"synth wrote {len(got)} files, expected {len(want)}"]
    for name, lines in want.items():
        with open(f"{synth_dir}/{name}") as f:
            have = f.read().split("\n")
        if have[-1] != "" or len(have) - 1 != len(lines) or \
                not TIMESTAMP.fullmatch(have[1]) or \
                any(w is not None and w != h for w, h in zip(lines, have)):
            return [f"synth {name} differs from the recomputation"]
    return []


def expected_filters(exp, rrpm_csv):
    """(filter_reports lines, filter_rrpm lines), header first, rows sorted;
    None when the rrpm CSV the second tool reads was not written."""
    if not os.path.exists(rrpm_csv):
        return None
    with open(f"{exp.inputs}/taxids.csv") as f:
        taxids = {ln.strip() for ln in list(f)[1:]}
    reports = ["sampleName," + ",".join(REPORT_COLS)] + sorted(
        ",".join(csv_cell(c) for c in r) for r in exp.con.execute(
            "SELECT first_token, " + ", ".join(f'"{c}"' for c in REPORT_COLS) +
            ' FROM rep WHERE "taxID" IN (SELECT unnest(?))', [sorted(taxids)]).fetchall())
    with open(rrpm_csv) as f:
        lines = f.read().split("\n")[:-1]
    rrpm = lines[:1] + sorted(ln for ln in lines[1:] if ln.split(",", 1)[0] in taxids)
    return reports, rrpm


def check_filter(want, path):
    if len(want) == 1:                       # no match: the tool writes nothing
        return [] if not os.path.exists(path) else [f"{path} should not exist"]
    if not os.path.exists(path):
        return [f"{os.path.basename(path)} was not written"]
    with open(path) as f:
        lines = f.read().split("\n")[:-1]
    if lines[:1] + sorted(lines[1:]) != want:
        return [f"{os.path.basename(path)} differs from the recomputation"]
    return []


def same_files(a, b, skip_line2=False):
    """byte-identical directories/files (synth timestamp lines aside)"""
    def content(p):
        with open(p, "rb") as f:
            data = f.read()
        if skip_line2:
            parts = data.split(b"\n")
            data = b"\n".join(parts[:1] + parts[2:])
        return data
    if os.path.isdir(a):
        names = sorted(os.listdir(a))
        return names == sorted(os.listdir(b)) and all(
            same_files(f"{a}/{n}", f"{b}/{n}", skip_line2) for n in names)
    if not os.path.exists(a) or not os.path.exists(b):
        return os.path.exists(a) == os.path.exists(b)
    return content(a) == content(b)


OUTPUTS = ("results", "synth", "filter_reports.csv", "filter_rrpm.csv")


def check_outputs(exp, d, ops, cache):
    """{op: [problems]} for the outputs one set of operations wrote in `d`"""
    v = {}
    if "pipeline" in ops:
        v["pipeline"] = check_pipeline(exp, f"{d}/results")
    if "synth" in ops:
        if "synth" not in cache:
            cache["synth"] = expected_synth(exp)
        v["synth"] = check_synth(cache["synth"], f"{d}/synth")
    if "filter" in ops:
        want = expected_filters(exp, f"{d}/results/rrpm_species.csv")
        v["filter"] = (["rrpm_species.csv, the second tool's input, was not written"]
                       if want is None else
                       check_filter(want[0], f"{d}/filter_reports.csv") +
                       check_filter(want[1], f"{d}/filter_rrpm.csv"))
    return v


def check_reports(inputs, iters):
    """{iteration: {"timed": {op: [problems]}, "plain": {...}}} for
    `reports_wide`. A traced iteration's untraced twins wrote under
    `plain/`. Operations that threw are failed already and not checked.
    The first set that checks clean becomes the reference; a later set
    that is byte-identical to it (synth timestamp lines aside) passes
    without the full check."""
    exp = Expected(inputs)
    cache, reference, verdicts = {}, None, {}
    for it in iters:
        v = {}
        for ops, thrown, twin in (("ops", "failed", "timed"),
                                  ("plain_ops", "plain_failed", "plain")):
            ran = [op for op in it[ops] if op not in it[thrown]]
            if not it[ops]:
                continue
            d = it["out"] if twin == "timed" else f"{it['out']}/plain"
            whole = len(ran) == len(it[ops]) == 3
            if whole and reference and all(
                    same_files(f"{reference}/{p}", f"{d}/{p}", p == "synth")
                    for p in OUTPUTS):
                v[twin] = {op: [] for op in ran}
                continue
            v[twin] = check_outputs(exp, d, ran, cache)
            if whole and reference is None and not any(v[twin].values()):
                reference = d
        verdicts[str(it["i"])] = v
    return verdicts


def compare_frames(a, b):
    """The repository's oracle semantics: same columns, same row multiset,
    doubles bit-exact, NaN equal to NaN. This is the comparison in
    tools/check.py (its column sort, row-count check, row sort with NaN
    first and DataFrame.equals); keep the two in step."""
    a = a.reindex(sorted(a.columns), axis=1)
    b = b.reindex(sorted(b.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    cols = list(a.columns)
    a = a.sort_values(by=cols, na_position="first").reset_index(drop=True)
    b = b.sort_values(by=cols, na_position="first").reset_index(drop=True)
    if not a.equals(b):
        bad = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
        return f"{int(bad.sum())}/{len(a)} rows differ"
    return None


def check_catalog(corpus, oracle_json, iters, queries):
    """{query: [problems]}: every result the timed passes wrote (the frame
    of each query's last execution in each iteration) against the query's
    oracle SQL on the same corpus. An execution that threw may have
    written nothing; it is failed already."""
    with open(oracle_json) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{corpus}/*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q in queries:
        if q not in oracle:
            out[q] = ["no oracle SQL"]
            continue
        want, problems = None, []
        for it in iters:
            res = f"{it['out']}/catalog/{q}"
            if not glob.glob(f"{res}/*.parquet"):
                if q not in it["failed"] + it["plain_failed"]:
                    problems.append(f"iteration {it['i']}: no result written")
                continue
            try:
                if want is None:
                    want = con.execute(oracle[q]).fetchdf()
                err = compare_frames(
                    con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')").fetchdf(),
                    want)
            except Exception as e:      # an oracle that cannot run is a failed check
                err = f"{type(e).__name__}: {e}"
            if err:
                problems.append(f"iteration {it['i']}: {err}")
        out[q] = problems
    return out


def check_run(workload, inputs, out, rec, queries):
    """Verdicts for every measured operation of the run:
    {"iterations": {i: {twin: {op: [problems]}}}} or {"queries": {q: [problems]}}"""
    if workload == "catalog_slice":
        return {"queries": check_catalog(inputs, f"{out}/warm/oracle_sql.json",
                                         rec["iterations"], queries)}
    return {"iterations": check_reports(inputs, rec["iterations"])}
