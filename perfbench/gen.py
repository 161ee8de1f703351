"""Seeded input generators for the three benchmark workloads.

Every generator takes the workload seed and an output directory, writes the
inputs the engine reads, and returns a small dict describing what it wrote.
That dict is the generator's own record: the checkers compare the engine's
outputs against it, never against an earlier run of the engine.

The table schemas follow FIXTURES.md, so the registered queries and their
DuckDB oracle SQL run on the generated files unchanged.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes and shares. Changing any of these changes the benchmark: the README
# lists them, and a change that claims a gain may not touch them.
CURATE = {
    "docs": 200,
    "exact_share": 0.08,     # docs that copy another doc's text verbatim
    "near_roots": 15,        # near-dup groups: a root plus near_per_root edits
    "near_per_root": 2,
    "boiler_share": 0.15,    # docs ending in one of the boilerplate chunks
}
RETRIEVE = {
    "vectors": 1000,
    "dim": 32,
    "clusters": 16,
    "spread": 0.35,          # per-coordinate noise around a cluster centre
}
INGEST = {
    "base": 400,             # records in the base table built at set-up
    "files": 3,              # landing files, one micro-batch each
    "per_file": 100,         # lines per landing file
    "corrupt_per_file": 2,   # 2 %: one truncated line, one without a cveId
    "reissue_share": 0.25,   # good lines that re-issue an earlier cveId
}
# The class-loading warm-up at build time runs the ingest path on this.
TINY_INGEST = dict(INGEST, base=20, files=2, per_file=20)

VOCAB = ("a the data spark stream batch merge join scan sort hash key value "
         "row column table query filter group window order part line agg "
         "fast slow big small vector dup index shard model token corpus "
         "layer cache plan stage task node graph edge label score rank "
         "search match range limit offset write read commit log").split()
BOILERPLATE = [
    "terms of use apply to all content on this site see the policy page "
    "for details",
    "subscribe to our newsletter to receive weekly updates about new "
    "releases and events",
    "this page was generated automatically please report errors to the "
    "site maintainers",
]
LANGS = ["en", "en", "de", "fr", "es", "zh"]


def gen_curate(seed, out, p=CURATE):
    rng = random.Random(seed)
    roots = p["near_roots"]
    n_exact = int(p["docs"] * p["exact_share"])
    n_near = roots * p["near_per_root"]
    n_base = p["docs"] - n_exact - n_near
    # roots are long enough that a one-token edit keeps Jaccard high
    base = [[rng.choice(VOCAB) for _ in range(
        rng.randint(45, 60) if i < roots else rng.randint(25, 60))]
        for i in range(n_base)]
    texts = [" ".join(t) for t in base]
    # near duplicates: one token of a root replaced, so 3-shingle Jaccard
    # stays near 0.9 and LSH finds the pair with near certainty
    for r in range(roots):
        root = base[r]
        for _ in range(p["near_per_root"]):
            toks = list(root)
            i = rng.randrange(len(toks))
            toks[i] = rng.choice([w for w in VOCAB if w != toks[i]])
            texts.append(" ".join(toks))
    # exact duplicates copy docs outside the near-dup roots
    for _ in range(n_exact):
        texts.append(texts[rng.randrange(roots, n_base)])
    n_boiler = int(p["docs"] * p["boiler_share"])
    for i in rng.sample(range(roots, n_base), n_boiler):
        texts[i] = texts[i] + " " + BOILERPLATE[i % len(BOILERPLATE)]
    # every copy carries a larger id than its original, so each duplicate
    # group is a star labelled by its centre and connected components
    # converge in the same number of rounds whatever the seed
    rows = list(enumerate(texts))
    langs = [rng.choice(LANGS) for _ in rows]
    sources = ["src%d" % rng.randrange(10) for _ in rows]
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    return {"docs": p["docs"], "exact_copies": n_exact, "near_dups": n_near,
            "near_roots": roots, "boilerplate_docs": n_boiler}


def gen_retrieve(seed, out, p=RETRIEVE):
    rs = np.random.RandomState(seed)
    n = p["vectors"]
    centres = rs.normal(size=(p["clusters"], p["dim"]))
    labels = rs.randint(0, p["clusters"], size=n)
    vecs = (centres[labels] + p["spread"] *
            rs.normal(size=(n, p["dim"]))).astype(np.float32)
    emb = pa.array([v for v in vecs], pa.list_(pa.float32()))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(20, 60)))
             for _ in range(n)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in texts], pa.string()),
        "source": pa.array(["src%d" % rng.randrange(10) for _ in texts],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    return dict(p)


def _cve_record(rng, cve_id, published, updated):
    """One CVE v5 record with the paths Cve.cveSchema reads. About one in
    ten lacks metrics and problem types (the default-on-missing path) and
    one in twenty has an empty descriptions array."""
    cna = {"title": "issue in %s %s" % (rng.choice(VOCAB), rng.choice(VOCAB))}
    if rng.random() < 0.05:
        cna["descriptions"] = []
    else:
        cna["descriptions"] = [{"value": " ".join(
            rng.choice(VOCAB) for _ in range(rng.randint(5, 15)))}]
    if rng.random() >= 0.1:
        score = round(rng.uniform(1.0, 10.0), 1)
        sev = ("LOW" if score < 4 else "MEDIUM" if score < 7 else
               "HIGH" if score < 9 else "CRITICAL")
        cna["metrics"] = [{"cvssV3_1": {"baseScore": score,
                                        "baseSeverity": sev}}]
        cna["problemTypes"] = [{"descriptions": [
            {"cweId": "CWE-%d" % rng.randint(20, 900)}]}]
    return {"cveMetadata": {"cveId": cve_id, "datePublished": published,
                            "dateUpdated": updated},
            "containers": {"cna": cna}}


def _ts(i):
    """The i-th timestamp of a strictly increasing ISO-8601 sequence."""
    secs = 1_700_000_000 + i * 37
    import datetime
    t = datetime.datetime.fromtimestamp(secs, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S") + ".%03dZ" % (i % 1000)


def gen_ingest(seed, out, p=INGEST):
    rng = random.Random(seed)
    clock = [0]

    def tick():
        clock[0] += 1
        return _ts(clock[0])

    ids = ["CVE-%d-%05d" % (2020 + i % 5, i) for i in
           rng.sample(range(100000), p["base"] + p["files"] * p["per_file"])]
    next_id = iter(ids)
    published = {}
    base_lines = []
    for _ in range(p["base"]):
        cid = next(next_id)
        published[cid] = tick()
        base_lines.append(json.dumps(
            _cve_record(rng, cid, published[cid], tick())))
    with open(os.path.join(out, "base.json"), "w") as f:
        f.write("\n".join(base_lines) + "\n")
    landing = os.path.join(out, "landing")
    os.makedirs(landing)
    files = []
    n_bad = p["corrupt_per_file"]
    n_good = p["per_file"] - n_bad
    n_reissue = int(n_good * p["reissue_share"])
    for fi in range(p["files"]):
        earlier = sorted(published)
        reissue = rng.sample(earlier, n_reissue)
        lines = []
        for cid in reissue:
            lines.append((json.dumps(
                _cve_record(rng, cid, published[cid], tick())), False))
        for _ in range(n_good - n_reissue):
            cid = next(next_id)
            published[cid] = tick()
            lines.append((json.dumps(
                _cve_record(rng, cid, published[cid], tick())), False))
        for k in range(n_bad):
            rec = _cve_record(rng, "CVE-BAD-%d-%d" % (fi, k), tick(), tick())
            if k < n_bad - 1:
                text = json.dumps(rec)
                text = text[:len(text) // 2]       # truncated, unparseable
            else:
                del rec["cveMetadata"]["cveId"]   # parseable, but id-less
                text = json.dumps(rec)
            lines.append((text, True))
        rng.shuffle(lines)
        name = "part-%03d.json" % fi
        path = os.path.join(landing, name)
        with open(path, "w") as f:
            f.write("\n".join(t for t, _ in lines) + "\n")
        # the file source takes the oldest files first: pin the order
        os.utime(path, (1_600_000_000 + fi, 1_600_000_000 + fi))
        files.append({"name": name,
                      "good": [t for t, bad in lines if not bad],
                      "corrupt": [t for t, bad in lines if bad]})
    return {"base": p["base"], "files": p["files"], "per_file": p["per_file"],
            "reissued_per_file": n_reissue, "corrupt_per_file": n_bad,
            "landing_bytes": sum(os.path.getsize(os.path.join(landing, f))
                                 for f in os.listdir(landing)),
            "landing": files}


GENERATORS = {"curate": gen_curate, "retrieve": gen_retrieve,
              "ingest": gen_ingest}
