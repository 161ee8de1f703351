"""Output checkers for the three workloads.

Each checker takes the run's input directory, its output directory and the
generator's record of what it wrote, and returns (problems, extra per-layer
metrics). Nothing here compares against an
earlier run of the engine: every expected value is computed apart from the
program — by DuckDB over the generated files, by numpy over the generated
vectors, or from the generator's own record.
"""
import collections
import datetime
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# Recall@10 floors of the ANN serving paths against the exact squared-L2
# top-10, on the clustered retrieve corpus (README, "Recall floors"). The
# two cosine-ranked IVF paths (q170's index) lose the pairs where cosine
# and L2 order neighbours differently, so their floor is lower.
RECALL_FLOORS = {"pq": 0.9, "ivfpq": 0.9, "ivfpq_adaptive": 0.9,
                 "ivf_adaptive": 0.7, "two_level": 0.7}
ANN_PATHS = sorted(RECALL_FLOORS)
KNN_K = 8          # q20 / q144 return the top 8 by cosine
KNN_QUERIES = 5    # for query ids 0..4

LAYER_UNITS = {
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "tables.infer_jobs": "count", "tables.infer_s": "s",
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.scans": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "vector.build_s.q110": "s", "vector.build_s.q100": "s",
    "vector.build_s.q170": "s", "vector.build_s.q175": "s",
    "vector.build_jobs": "count",
    "text.search_ms": "ms", "text.query_s": "s",
    "dedup.query_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.cc_rounds": "count",
    "dedup.oversized_buckets": "count",
    "curation.curate_full_s": "s", "curation.rows_kept": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.plan_ms": "ms",
    "streaming.wal_ms": "ms",
    "sinks.merge_ms": "ms", "sinks.append_ms": "ms",
    "sinks.dirs_rewritten": "count", "sinks.bytes_written_mb": "MB",
    "sinks.write_amp": "ratio", "sinks.files": "count",
    "sources.read_ms": "ms", "sources.changes_ms": "ms",
}
for _p in ("exact", "filtered", "pq", "ivfpq", "ivfpq_adaptive",
           "ivf_adaptive", "two_level"):
    LAYER_UNITS["vector.probe_ms." + _p] = "ms"
    LAYER_UNITS["vector.probe_jobs." + _p] = "count"
    LAYER_UNITS["vector.recall_at_10." + _p] = "ratio"


# ------------------------------------------------------------ comparison

def _norm(x):
    """One canonical python value per cell, so DuckDB and Spark frames
    compare equal whatever integer width or container type each used."""
    if x is None:
        return None
    if isinstance(x, (list, tuple, np.ndarray)):
        return tuple(_norm(v) for v in x)
    if isinstance(x, dict):
        return tuple(sorted((k, _norm(v)) for k, v in x.items()))
    if isinstance(x, (np.integer,)):
        return int(x)
    if isinstance(x, (float, np.floating)):
        x = float(x)
        if math.isnan(x):
            return None
        if x.is_integer() and abs(x) < 2 ** 53:
            return int(x)
        return x
    if isinstance(x, pd.Timestamp):
        return x.isoformat()
    if isinstance(x, bytes):
        return x.hex()
    try:
        if pd.isna(x):
            return None
    except (TypeError, ValueError):
        pass
    return x


def rows_of(df):
    cols = sorted(df.columns)
    return cols, sorted((tuple(_norm(v) for v in r)
                         for r in df[cols].itertuples(index=False, name=None)),
                        key=repr)


def compare_frames(name, expected, actual):
    """Multiset equality after sorting columns by name; None if equal."""
    ec, er = rows_of(expected)
    ac, ar = rows_of(actual)
    if ec != ac:
        return "%s: columns %s, expected %s" % (name, ac, ec)
    if len(er) != len(ar):
        return "%s: %d rows, expected %d" % (name, len(ar), len(er))
    for a, e in zip(ar, er):
        if a != e:
            return "%s: row %r, expected %r" % (name, a, e)
    return None


def read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def duck(indir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                    % (t, os.path.join(indir, t + ".parquet")))
    return con


# ---------------------------------------------------------------- curate

def components_problems(df):
    """Connected components must partition the documents they cover, each
    labelled with its smallest member id."""
    probs = []
    counts = collections.Counter(df["doc_id"].tolist())
    twice = [d for d, c in counts.items() if c > 1]
    if twice:
        probs.append("components: doc %d sits in %d components"
                     % (twice[0], counts[twice[0]]))
    for comp, members in df.groupby("comp")["doc_id"]:
        if int(comp) != int(members.min()):
            probs.append("components: component labelled %d has smallest "
                         "member %d" % (comp, members.min()))
            break
    return probs


def check_curate_outputs(indir, outputs, oracle):
    """`outputs` maps query name -> DataFrame (None when missing)."""
    extra = {}
    for metric, q in (("dedup.candidate_pairs", "q42_lsh_candidate_pairs"),
                      ("dedup.verified_pairs", "q46_lsh_verified_dedup")):
        if outputs.get(q) is not None:
            extra[metric] = len(outputs[q])
    con = duck(indir, ["documents"])
    probs = []
    for name in sorted(oracle):
        actual = outputs.get(name)
        if actual is None:
            probs.append("%s: no output" % name)
            continue
        if not oracle[name]:
            probs.append("%s: no oracle SQL" % name)
            continue
        p = compare_frames(name, con.execute(oracle[name]).fetchdf(), actual)
        if p:
            probs.append(p)
    if outputs.get("q48_near_dup_components") is not None:
        probs += components_problems(outputs["q48_near_dup_components"])
    return probs, extra


def check_curate(indir, outdir, record):
    oracle = result_oracle(outdir)
    outputs = {n: read_parquet_dir(os.path.join(outdir, n)) for n in oracle}
    return check_curate_outputs(indir, outputs, oracle)


def result_oracle(outdir):
    with open(os.path.join(outdir, "result.json")) as f:
        return json.load(f)["oracle"]


# -------------------------------------------------------------- retrieve

def load_vectors(indir):
    t = pq.read_table(os.path.join(indir, "embeddings.parquet")).to_pandas()
    ids = t["vec_id"].to_numpy()
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    d = pq.read_table(os.path.join(indir, "documents.parquet")).to_pandas()
    en = set(d.loc[d["lang"] == "en", "doc_id"].tolist())
    return ids, x, en


def exact_cosine(ids, x, mask, k):
    """{query id: [(vec_id, sim)] top-k by cosine, ties by id}."""
    norms = np.sqrt((x * x).sum(axis=1))
    out = {}
    for q in range(KNN_QUERIES):
        qi = int(np.where(ids == q)[0][0])
        sims = x @ x[qi] / (norms * norms[qi])
        cand = [(float(sims[i]), int(ids[i])) for i in range(len(ids)) if mask[i]]
        cand.sort(key=lambda t: (-t[0], t[1]))
        out[q] = [(v, s) for s, v in cand[:k]]
    return out


def exact_l2(ids, x, k):
    out = {}
    for qi in np.where(ids % 50 == 0)[0]:
        d = ((x - x[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))[:k]
        out[int(ids[qi])] = [int(ids[i]) for i in order]
    return out


def knn_problems(name, rows, expected):
    """(share of the exact top-k returned, problems)."""
    got = collections.defaultdict(list)
    for r in rows:
        got[r["query_id"]].append(r)
    probs = []
    hits = sum(len({r["vec_id"] for r in got.get(q, [])} & {v for v, _ in want})
               for q, want in expected.items())
    for q, want in expected.items():
        have = sorted(got.get(q, []), key=lambda r: r["rk"])
        ids = [r["vec_id"] for r in have]
        if ids != [v for v, _ in want]:
            probs.append("%s: query %d returned %s, exact top-%d is %s"
                         % (name, q, ids, len(want), [v for v, _ in want]))
            continue
        for r, (_, s) in zip(have, want):
            if abs(r["sim"] - s) > 2e-6:
                probs.append("%s: query %d vec %d sim %r, exact %r"
                             % (name, q, r["vec_id"], r["sim"], s))
                break
    if set(got) - set(expected):
        probs.append("%s: unexpected query ids %s" % (name, sorted(set(got) - set(expected))))
    return hits / float(sum(len(w) for w in expected.values())), probs


def recall(name, rows, exact, valid_ids):
    """(recall@10, problems) of one ANN path's rows against the exact
    squared-L2 top-10."""
    got = collections.defaultdict(list)
    probs = []
    for r in rows:
        got[r["query_id"]].append(r["vec_id"])
    for q, ids in got.items():
        if q not in exact:
            probs.append("%s: unexpected query id %d" % (name, q))
        if len(ids) > 10 or len(set(ids)) != len(ids):
            probs.append("%s: query %d returned %d ids (%d distinct)"
                         % (name, q, len(ids), len(set(ids))))
        if not set(ids) <= valid_ids:
            probs.append("%s: query %d returned ids outside the corpus" % (name, q))
    hits = sum(len(set(got.get(q, [])) & set(e)) for q, e in exact.items())
    r = hits / (10.0 * len(exact))
    if r < RECALL_FLOORS[name]:
        probs.append("%s: recall@10 %.3f below the floor %.2f"
                     % (name, r, RECALL_FLOORS[name]))
    return r, probs


def check_retrieve_outputs(indir, outputs, oracle):
    """`outputs` maps path name -> list of row dicts."""
    ids, x, en = load_vectors(indir)
    probs, extra = [], {}
    everything = np.ones(len(ids), dtype=bool)
    only_en = np.array([int(i) in en for i in ids])
    for name, mask in (("exact", everything), ("filtered", only_en)):
        r, p = knn_problems(name, outputs.get(name, []),
                            exact_cosine(ids, x, mask, KNN_K))
        extra["vector.recall_at_10." + name] = r   # of the top 8 these return
        probs += p
    exact = exact_l2(ids, x, 10)
    valid = set(int(i) for i in ids)
    for name in ANN_PATHS:
        r, p = recall(name, outputs.get(name, []), exact, valid)
        extra["vector.recall_at_10." + name] = r
        probs += p
    con = duck(indir, ["documents", "embeddings"])
    for name, sql in sorted(oracle.items()):
        rows = outputs.get(name)
        if rows is None:
            probs.append("%s: no output" % name)
            continue
        expected = con.execute(sql).fetchdf()
        actual = pd.DataFrame(rows, columns=None if rows else expected.columns)
        p = compare_frames(name, expected, actual)
        if p:
            probs.append(p)
    return probs, extra


def check_retrieve(indir, outdir, record):
    outputs = {}
    for f in glob.glob(os.path.join(outdir, "*.jsonl")):
        with open(f) as fh:
            outputs[os.path.basename(f)[:-6]] = [json.loads(l) for l in fh if l.strip()]
    return check_retrieve_outputs(indir, outputs, result_oracle(outdir))


# ---------------------------------------------------------------- ingest

def _epoch_us(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    t = t.replace(tzinfo=datetime.timezone.utc)
    return int(round(t.timestamp() * 1e6))


def extract(rec):
    """The silver row of one CVE record, with the default-on-missing
    semantics of the reference consumer."""
    meta = rec["cveMetadata"]
    cna = rec.get("containers", {}).get("cna", {})
    desc = cna.get("descriptions") or [{}]
    metric = (cna.get("metrics") or [{}])[0].get("cvssV3_1", {})
    pts = ((cna.get("problemTypes") or [{}])[0].get("descriptions") or [{}])
    return (meta["cveId"], _epoch_us(meta["datePublished"]),
            _epoch_us(meta["dateUpdated"]), cna.get("title", ""),
            desc[0].get("value", ""), metric.get("baseSeverity", ""),
            float(metric.get("baseScore", 0.0)), pts[0].get("cweId", ""))


TABLE_COLS = ["cve_id", "date_published", "date_updated", "title",
              "description", "severity", "score", "cwe_id"]


def latest_per_key(records):
    """Latest row per cve_id, computed by DuckDB over the parsed records."""
    df = pd.DataFrame([extract(r) for r in records], columns=TABLE_COLS)
    con = duckdb.connect()
    con.register("recs", df)
    out = con.execute(
        "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
        "(PARTITION BY cve_id ORDER BY date_updated DESC) AS rn FROM recs) "
        "WHERE rn = 1").fetchdf()
    return collections.Counter(tuple(_norm(v) for v in r)
                               for r in out[TABLE_COLS].itertuples(index=False, name=None))


def table_rows(df):
    return collections.Counter(tuple(_norm(v) for v in r) for r in
                               _ts_us(df)[TABLE_COLS].itertuples(index=False, name=None))


def check_ingest_outputs(indir, outputs, record):
    """`outputs` holds DataFrames raw, dlq, final and changes."""
    probs = []
    good = [l for f in record["landing"] for l in f["good"]]
    corrupt = [l for f in record["landing"] for l in f["corrupt"]]
    raw, dlq = outputs.get("raw"), outputs.get("dlq")
    n_raw = 0 if raw is None else len(raw)
    n_dlq = 0 if dlq is None else len(dlq)
    if n_raw + n_dlq != len(good) + len(corrupt):
        probs.append("ingest: %d raw + %d DLQ rows for %d landed records"
                     % (n_raw, n_dlq, len(good) + len(corrupt)))
    want_raw = collections.Counter(
        (json.loads(l)["cveMetadata"]["cveId"],
         json.loads(l)["cveMetadata"]["dateUpdated"]) for l in good)
    have_raw = collections.Counter() if raw is None else collections.Counter(
        zip(raw["cve_id"].tolist(), raw["date_updated"].tolist()))
    if have_raw != want_raw:
        probs.append("ingest: raw rows differ from the good landed records "
                     "(%d missing, %d extra)" % (sum((want_raw - have_raw).values()),
                                                 sum((have_raw - want_raw).values())))
    have_dlq = collections.Counter() if dlq is None else collections.Counter(dlq["raw"].tolist())
    if have_dlq != collections.Counter(corrupt):
        probs.append("ingest: DLQ differs from the corrupt records written "
                     "(%d missing, %d extra)"
                     % (sum((collections.Counter(corrupt) - have_dlq).values()),
                        sum((have_dlq - collections.Counter(corrupt)).values())))
    with open(os.path.join(indir, "base.json")) as f:
        base_recs = [json.loads(l) for l in f if l.strip()]
    base = latest_per_key(base_recs)
    final = latest_per_key(base_recs + [json.loads(l) for l in good])
    if outputs.get("final") is None:
        probs.append("ingest: no final table")
    else:
        have = table_rows(outputs["final"])
        if have != final:
            probs.append("ingest: final table differs from the latest row per "
                         "cve_id (%d missing, %d extra)"
                         % (sum((final - have).values()), sum((have - final).values())))
    ch = outputs.get("changes")
    if ch is None:
        probs.append("ingest: no change feed")
    else:
        chn = _ts_us(ch)
        net = collections.Counter()
        for row, t in zip(chn[TABLE_COLS].itertuples(index=False, name=None),
                          chn["_change_type"].tolist()):
            net[tuple(_norm(v) for v in row)] += 1 if t == "insert" else -1
        want = collections.Counter(final)
        want.subtract(base)
        if {k: v for k, v in net.items() if v} != {k: v for k, v in want.items() if v}:
            probs.append("ingest: change feed since the base version, netted "
                         "per row, differs from final minus base snapshot")
    return probs, {}


def _ts_us(df):
    df = df.copy()
    for c in ("date_published", "date_updated"):
        df[c] = pd.to_datetime(df[c], utc=True).astype("int64") // 1000
    return df


def check_ingest(indir, outdir, record):
    outputs = {k: read_parquet_dir(os.path.join(outdir, k))
               for k in ("raw", "dlq", "final", "changes")}
    return check_ingest_outputs(indir, outputs, record)


CHECKERS = {"curate": check_curate, "retrieve": check_retrieve,
            "ingest": check_ingest}
