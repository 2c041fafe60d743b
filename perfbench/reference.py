"""Expected outputs, computed with DuckDB SQL straight from the generated
files, independently of the library under test, and the comparison of the
runner's per-iteration digests against them.

The SQL restates the runner's chains (runner/src/main/scala/perfbench):
the same cuts, corrections, binnings and thresholds. Float arithmetic is
written in the same order as the library evaluates it, so bin ids agree
exactly; histogram weights are compared with a relative tolerance because
decimal-to-double casts may differ by one ulp between engines.
"""
import json
import os
from decimal import Decimal

import duckdb

MASK64 = (1 << 64) - 1
REL_TOL = 1e-9

# --- hep chain constants (Hep.scala) -----------------------------------------
SHIFTS = {"nominal": "pt", "jec_up": "pt_jec_up", "jec_down": "pt_jec_down"}
CROSS_SECTION = 1000.0
# id -> (nBins, with lead_jet_pt)
BINNINGS = {0: (40, False), 1: (25, True), 2: (50, False), 3: (30, True)}

# --- curation constants (CurationChain.scala) --------------------------------
MIN_QUALITY = 0.5
LSH_THRESHOLD = 0.8
MAX_HIT_FRAC = 0.15
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]


def mix(x):
    """splitmix64 finalizer (Main.mix), on Python ints."""
    z = (x + 0x9E3779B97F4A7C15) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


def digest(values):
    return str(sum(mix(v & MASK64) for v in values) & MASK64)


def _d(x):
    return f"CAST('{x!r}' AS DOUBLE)"


def _binned(edges, content, v):
    """Payload `binning` node with clamp flow: the first bin whose upper
    edge exceeds v, clamped into the edge bins."""
    arms = " ".join(f"WHEN {v} < {_d(e)} THEN {_d(c)}" for e, c in zip(edges[1:-1], content[:-1]))
    return f"(CASE {arms} ELSE {_d(content[-1])} END)"


def _regular(v, n, lo, hi):
    w = (hi - lo) / n
    return (f"CASE WHEN {v} IS NULL THEN NULL WHEN {v} < {_d(lo)} THEN -1 "
            f"WHEN {v} = {_d(hi)} THEN {n - 1} WHEN {v} >= {_d(hi)} THEN {n} "
            f"ELSE CAST(LEAST(FLOOR(({v} - {_d(lo)}) / {_d(w)}), {n - 1}) AS INTEGER) END")


def _integer(v, lo, hi):
    return (f"CASE WHEN {v} IS NULL THEN NULL WHEN {v} < {lo} THEN -1 "
            f"WHEN {v} > {hi} THEN {hi - lo + 1} ELSE CAST({v} - {lo} AS INTEGER) END")


def _variables(binning):
    n, lead = BINNINGS[binning]
    out = {"ht": _regular("ht", n, 0.0, 1500.0), "n_jet": _integer("n_jet", 0, 12)}
    if lead:
        out["lead_jet_pt"] = _regular("lead_jet_pt", n, 0.0, 600.0)
    return out


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET enable_progress_bar = false")
    return con


def hep_reference(data_dir, payload_path, binnings):
    """{binning id: {(shift, variable, bin, cat_bin): (n, sumw, sumw2)}}"""
    with open(payload_path) as f:
        corr = {c["name"]: c["data"] for c in json.load(f)["corrections"]}
    con = _connect()
    con.execute(f"CREATE TABLE ev AS SELECT * FROM read_parquet('{data_dir}/events/*.parquet')")
    eta = "CAST(j.eta AS DOUBLE)"
    raw = f"(CAST(j.pt AS DOUBLE) * ({_d(1.0)} - CAST(j.rawFactor AS DOUBLE)))"
    l1 = f"({raw} * {_binned(corr['L1']['edges'], corr['L1']['content'], eta)})"
    pt = f"({l1} * {_binned(corr['L2']['edges'], corr['L2']['content'], l1)})"
    unc = _binned(corr["Unc"]["edges"], corr["Unc"]["content"], eta)
    con.execute(f"""CREATE TABLE cal AS SELECT run, event, genWeight, Muon,
        LEAST(len(Jet), 2) AS leaf,
        list_transform(Jet, j -> struct_pack(
            pt := {pt}, pt_jec_up := {pt} * ({_d(1.0)} + {unc}),
            pt_jec_down := {pt} * ({_d(1.0)} - {unc}), eta := j.eta, jetId := j.jetId)) AS jets
        FROM ev""")
    # pre-selection weight sums per (dataset, leaf): the stitching input
    sums = {}
    for run, leaf, s in con.execute("""SELECT run, leaf,
            CAST(SUM(CAST(genWeight AS DECIMAL(18,4))) AS DOUBLE) FROM cal GROUP BY run, leaf""").fetchall():
        sums.setdefault(run, {})[str(leaf)] = Decimal(repr(s))
    inclusive = sums.get(1, {})
    total = float(sum(inclusive.values(), Decimal(0)))
    norm = {}
    for leaf in ("0", "1", "2"):
        br = float(inclusive.get(leaf, Decimal(0))) / total
        eff = sum((sums.get(r, {}).get(leaf, Decimal(0)) for r in sums), Decimal(0))
        if eff != 0:
            norm[int(leaf)] = CROSS_SECTION * br / float(eff)
    lut = "CASE leaf " + " ".join(f"WHEN {k} THEN {_d(v)}" for k, v in norm.items()) + " END"
    out = {b: {} for b in binnings}
    for shift, field in SHIFTS.items():
        con.execute(f"""CREATE OR REPLACE TABLE sel AS SELECT * FROM (
            SELECT run, event, leaf, CAST(genWeight AS DOUBLE) * ({lut}) AS weight,
              list_filter(jets, j -> j.{field} > {_d(30.0)} AND abs(CAST(j.eta AS DOUBLE)) < {_d(2.4)}
                AND j.jetId >= 2) AS gj,
              list_filter(Muon, m -> CAST(m.pt AS DOUBLE) > {_d(20.0)}
                AND abs(CAST(m.eta AS DOUBLE)) < {_d(2.4)}
                AND CAST(m.pfRelIso04_all AS DOUBLE) < {_d(0.15)}) AS gm
            FROM cal) WHERE len(gj) >= 1 AND len(gm) >= 1""")
        con.execute(f"""CREATE OR REPLACE TABLE prod AS SELECT run, weight,
            list_reduce(list_transform(gj, j -> j.{field}), (a, b) -> a + b) AS ht,
            len(gj) AS n_jet,
            list_max(list_transform(gj, j -> j.{field})) AS lead_jet_pt
            FROM sel""")
        con.execute("""CREATE OR REPLACE TABLE prod_cat AS
            SELECT p.*, UNNEST([0, CASE WHEN n_jet = 1 THEN 1 ELSE 2 END,
                               CASE WHEN ht > 250.0 THEN 3 ELSE 4 END]) AS cat FROM prod p""")
        for b in binnings:
            for name, expr in _variables(b).items():
                # per dataset, then summed: the runner's fill + merge
                rows = con.execute(f"""SELECT run, bin, cat, COUNT(*),
                    CAST(SUM(CAST(weight AS DECIMAL(18,4))) AS DOUBLE),
                    CAST(SUM(CAST(weight AS DECIMAL(18,4)) * CAST(weight AS DECIMAL(18,4))) AS DOUBLE)
                    FROM (SELECT run, cat, weight, {expr} AS bin FROM prod_cat)
                    WHERE bin IS NOT NULL GROUP BY run, bin, cat""").fetchall()
                hist = out[b]
                for _, bin_, cat, n, sw, sw2 in rows:
                    key = (shift, name, bin_, cat)
                    pn, psw, psw2 = hist.get(key, (0, 0.0, 0.0))
                    hist[key] = (pn + n, psw + sw, psw2 + sw2)
    con.close()
    return out


def _tokens(col):
    return f"regexp_extract_all(lower({col}), '[a-z0-9]+')"


def _shingles(t, n):
    """Text.shingles over a token-list column `t` (a column, not the regex
    itself: an expression inside the lambda is re-evaluated per element)."""
    parts = " || ' ' || ".join(f"{t}[i + {k}]" for k in range(n))
    return f"list_transform(range(1, len({t}) - {n - 2}), i -> {parts})"


def curation_reference(data_dir):
    con = _connect()
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    con.execute(f"""CREATE TABLE docs AS SELECT doc_id, text, {_tokens('text')} AS t
        FROM read_parquet('{data_dir}/corpus/*.parquet')""")
    con.execute(f"""CREATE TABLE truth AS SELECT * FROM read_parquet('{data_dir}/truth.parquet')""")
    # Curation.gopherRules with its defaults, and Text.qualityScore
    con.execute(f"""CREATE TABLE scored AS SELECT doc_id, text, t, len(t) AS n,
        len(list_filter(t, w -> w IN ({stops}))) AS stops,
        CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE) / len(t) AS mean_len,
        length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS symbols,
        len({_shingles('t', 2)}) AS gt, len(list_distinct({_shingles('t', 2)})) AS gd
        FROM docs""")
    con.execute(f"""CREATE TABLE passed AS SELECT doc_id, text FROM scored WHERE NOT (
          n < 50 OR n > 100000
          OR (n > 0 AND (mean_len < 3.0 OR mean_len > 10.0))
          OR (n > 0 AND CAST(symbols AS DOUBLE) / CAST(n AS DOUBLE) > 0.1)
          OR stops < 2
          OR (gt > 0 AND CAST(gt - gd AS DOUBLE) / CAST(gt AS DOUBLE) > 0.2))
        AND 0.5 * LEAST(1.0, CAST(n AS DOUBLE) / 100.0)
            + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / n)
            + 0.2 * (CAST(stops AS DOUBLE) / n) > {MIN_QUALITY}""")
    con.execute("""CREATE TABLE exact AS SELECT MIN(doc_id) AS doc_id FROM passed
        GROUP BY md5(text)""")
    # near-duplicates: one representative (the smallest id) per planted
    # cluster among the exact-dedup survivors
    con.execute("""CREATE TABLE kept AS
        SELECT e.doc_id FROM exact e JOIN truth USING (doc_id) WHERE kind <> 'cluster'
        UNION ALL
        SELECT MIN(e.doc_id) FROM exact e JOIN truth USING (doc_id) WHERE kind = 'cluster'
        GROUP BY group_id""")
    con.execute(f"""CREATE TABLE bench_sh AS SELECT DISTINCT UNNEST({_shingles('t', 3)}) AS s
        FROM (SELECT {_tokens('text')} AS t FROM read_parquet('{data_dir}/heldout/*.parquet'))""")
    con.execute(f"""CREATE TABLE contaminated AS SELECT doc_id FROM (
          SELECT doc_id, COUNT(*) AS n_sh, COUNT(b.s) AS n_hit FROM (
            SELECT k.doc_id, UNNEST(list_distinct({_shingles('d.t', 3)})) AS s
            FROM kept k JOIN docs d USING (doc_id)) x
          LEFT JOIN bench_sh b USING (s) GROUP BY doc_id)
        WHERE CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) > {MAX_HIT_FRAC}""")
    curated = [r[0] for r in con.execute(
        "SELECT doc_id FROM kept EXCEPT SELECT doc_id FROM contaminated").fetchall()]
    # planted near-duplicate pairs (base, variant) among exact-dedup survivors
    planted = con.execute("""SELECT LEAST(b.doc_id, v.doc_id), GREATEST(b.doc_id, v.doc_id)
        FROM truth b JOIN truth v ON v.group_id = b.doc_id AND v.doc_id <> b.doc_id
        JOIN exact eb ON eb.doc_id = b.doc_id JOIN exact ev ON ev.doc_id = v.doc_id
        WHERE b.kind = 'cluster' AND v.kind = 'cluster'""").fetchall()
    con.close()
    return {"curated_count": len(curated), "curated_digest": digest(curated),
            "planted_pairs": [list(p) for p in planted]}


def jaccard(data_dir, pairs):
    """Exact 3-shingle Jaccard of each (id_a, id_b) pair."""
    if not pairs:
        return []
    con = _connect()
    con.execute("CREATE TABLE p (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    con.execute(f"""CREATE TABLE sh AS SELECT doc_id, list_distinct({_shingles('t', 3)}) AS s
        FROM (SELECT doc_id, {_tokens('text')} AS t FROM read_parquet('{data_dir}/corpus/*.parquet')
              WHERE doc_id IN (SELECT a FROM p UNION SELECT b FROM p))""")
    rows = con.execute("""SELECT p.a, p.b,
          CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
          / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
        FROM p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b""").fetchall()
    con.close()
    return rows


def cached(path, compute):
    """Compute a reference once per generated input directory."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def hep_reference_json(data_dir, payload_path):
    ref = hep_reference(data_dir, payload_path, sorted(BINNINGS))
    return {str(b): [[*k, *v] for k, v in sorted(h.items())] for b, h in ref.items()}


# --- comparison ----------------------------------------------------------------

def check_hist(check, ref):
    """None when the histogram rows equal the reference for their binning,
    else a one-line reason."""
    expected = {tuple(r[:4]): r[4:] for r in ref[str(check["binning"])]}
    got = {tuple(r[:4]): r[4:] for r in check["rows"]}
    if len(got) != len(check["rows"]):
        return "duplicate histogram bins"
    if got.keys() != expected.keys():
        missing, extra = expected.keys() - got.keys(), got.keys() - expected.keys()
        return f"bins differ: {len(missing)} missing, {len(extra)} unexpected"
    for k, (n, sw, sw2) in got.items():
        en, esw, esw2 = expected[k]
        if n != en:
            return f"bin {k}: n {n} != {en}"
        for a, b, what in ((sw, esw, "sumw"), (sw2, esw2, "sumw2")):
            if abs(a - b) > REL_TOL * max(abs(a), abs(b), 1e-12):
                return f"bin {k}: {what} {a!r} != {b!r}"
    return None


def check_curation(check, ref):
    if check["kept_count"] != ref["curated_count"] or check["kept_digest"] != ref["curated_digest"]:
        return (f"curated set differs: {check['kept_count']} docs (digest {check['kept_digest']}), "
                f"expected {ref['curated_count']} (digest {ref['curated_digest']})")
    return None


def check_lsh(data_dir, pairs, ref):
    """Exact precision of the LSH output pairs (every pair's recomputed
    Jaccard meets the threshold) and recall of the planted near-duplicate
    pairs. Returns (reason or None, precision, recall)."""
    jac = jaccard(data_dir, [tuple(p) for p in pairs])
    good = sum(1 for _, _, j in jac if j >= LSH_THRESHOLD)
    precision = good / len(pairs) if pairs else 1.0
    found = {tuple(p) for p in pairs}
    planted = [tuple(p) for p in ref["planted_pairs"]]
    recall = sum(1 for p in planted if p in found) / len(planted) if planted else 1.0
    if len(jac) != len(pairs) or good != len(pairs):
        return f"LSH precision {precision:.4f} < 1", precision, recall
    if recall < 1.0:
        return f"LSH recall {recall:.4f} of {len(planted)} planted pairs < 1", precision, recall
    return None, precision, recall
