"""Seeded input generator for the graft benchmark.

One process, numpy + pyarrow only. Every input a workload reads is a pure
function of (workload, seed, scale): the sizes and shares come from
`workloads.json` (the declared properties), the randomness from `--seed`.
Files use the repo's own schemas, so the engine reads them with its normal
loaders (`Tables.events` / `Tables.documents` / `Tables.embeddings`):

  events.parquet      event_id, ts, user_id, event_type, value, props
  documents.parquet   doc_id, text, lang, source, n_chars
  embeddings.parquet  vec_id, embedding (float[64]), label

`verify()` re-measures the declared properties on the written files with
DuckDB, so a change that resizes the data without changing the
declaration fails the run instead of silently moving the baseline.

usage: python3 perfbench/gen.py <workload> <seed> <out_dir> [--scale full|tiny]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
VOCAB = ("query row stream the batch sort value hash filter big data dup part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
TIERS = ["free", "basic", "pro", "team", "enterprise"]
REGIONS = ["us-east", "us-west", "eu-central", "eu-west", "ap-south", "ap-east"]
# change mix after an entity's first (signup = insert) change
UPDATE_TYPES = ["click", "view", "purchase", "error"]
UPDATE_P = [0.30, 0.30, 0.25, 0.15]


def declared(workload, scale="full"):
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"known: {sorted(spec['workloads'])}")
    return spec["workloads"][workload][scale]


def _zipf_entities(rng, rows, entities, s):
    """Entity id per row: Zipf(s) over ranks, ranks mapped to ids by a
    seeded permutation so hot keys are not simply the small ids."""
    p = np.arange(1, entities + 1, dtype=np.float64) ** -s
    p /= p.sum()
    ranks = rng.choice(entities, size=rows, p=p)
    return rng.permutation(entities).astype(np.int64)[ranks]


def _props(rng, n):
    k = rng.integers(0, 100, n)
    tier = np.array(TIERS)[rng.integers(0, len(TIERS), n)]
    qty = rng.integers(1, 50, n)
    flag = np.where(rng.random(n) < 0.5, "true", "false")
    region = np.array(REGIONS)[rng.integers(0, len(REGIONS), n)]
    score = np.round(rng.random(n) * 100, 2)
    return [f'{{"k": {a}, "tier": "{b}", "qty": {c}, "flag": {d}, '
            f'"region": "{e}", "score": {g:.2f}}}'
            for a, b, c, d, e, g in zip(k, tier, qty, flag, region, score)]


def feed_table(rng, rows, user_ids, first_id, t_start_us, span_us):
    """One change feed in the repo's events schema. Changes are in
    event_id order with strictly increasing timestamps; an entity's first
    change in the feed is its insert ('signup')."""
    n = rows
    gaps = rng.exponential(1.0, n)
    ts = t_start_us + np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - n)).astype(np.int64)
    ts += np.arange(n, dtype=np.int64)  # strictly increasing, no ties
    et = np.array(UPDATE_TYPES)[rng.choice(len(UPDATE_TYPES), n, p=UPDATE_P)]
    _, first = np.unique(user_ids, return_index=True)
    et = et.astype(object)
    et[first] = "signup"
    value = np.round(rng.random(n) * 500.0, 2)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user_ids, type=pa.int64()),
        "event_type": pa.array(et, type=pa.string()),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array(_props(rng, n), type=pa.string()),
    })


def gen_audit(rng, d, out):
    ents = _zipf_entities(rng, d["rows"], d["entities"], d["zipf_s"])
    t = feed_table(rng, d["rows"], ents, 0, EPOCH_US, d["days"] * DAY_US)
    pq.write_table(t, os.path.join(out, "events.parquet"))
    return t


def gen_questions(rng, t, n, out):
    """Point-in-time questions for the closed-loop lookup client. Each is
    anchored on a uniformly drawn change of the feed, so the entity it asks
    about is drawn with the feed's own Zipf skew (hot keys are asked about
    most, and they carry the longest histories)."""
    rows = rng.integers(0, t.num_rows, n)
    ent = t.column("user_id").to_numpy()[rows]
    seq = t.column("event_id").to_numpy()[rows]
    kinds = np.array(["asof", "current", "asof_join"])[
        rng.choice(3, n, p=[0.4, 0.3, 0.3])]
    qs = [{"kind": str(k), "entity": int(e), "seq": int(s)}
          for k, e, s in zip(kinds, ent, seq)]
    with open(os.path.join(out, "questions.json"), "w") as f:
        json.dump(qs, f)


def gen_capture(rng, d, out):
    span = d["slice_days"] * DAY_US
    for i in range(d["slices"]):
        ents = rng.integers(0, d["slice_entities"], d["slice_rows"]).astype(np.int64)
        t = feed_table(rng, d["slice_rows"], ents, i * d["slice_rows"],
                       EPOCH_US + i * span, span)
        sd = os.path.join(out, "slices", f"{i:03d}")
        os.makedirs(sd, exist_ok=True)
        pq.write_table(t, os.path.join(sd, "events.parquet"))


def _doc(rng):
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 101))])


def gen_corpus(rng, d, out):
    n = d["docs"]
    n_exact = int(round(n * d["exact_dup_share"]))
    n_near = int(round(n * d["near_dup_share"]))
    n_base = n - n_exact - n_near
    text = [_doc(rng) for _ in range(n_base)]
    lang = list(np.array(LANGS)[rng.choice(len(LANGS), n_base, p=LANG_P)])
    source = [f"src{i}" for i in rng.integers(0, 20, n_base)]
    for _ in range(n_exact):  # verbatim copy, possibly re-published elsewhere
        j = int(rng.integers(0, n_base))
        text.append(text[j]); lang.append(lang[j])
        source.append(f"src{int(rng.integers(0, 20))}")
    for _ in range(n_near):   # same block, a few words replaced
        j = int(rng.integers(0, n_base))
        w = text[j].split(" ")
        for p in rng.choice(len(w), max(1, len(w) // 20), replace=False):
            w[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        text.append(" ".join(w)); lang.append(lang[j]); source.append(source[j])
    order = rng.permutation(n)  # copies are not adjacent to their originals
    text = [text[i] for i in order]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array([lang[i] for i in order], type=pa.string()),
        "source": pa.array([source[i] for i in order], type=pa.string()),
        "n_chars": pa.array([len(x) for x in text], type=pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    v, dim, labels = d["vectors"], d["dim"], d["labels"]
    n_pert = int(round(v * d["perturbed_share"]))
    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, v - n_pert)
    emb = centers[lab] + rng.normal(0, 1.5, (v - n_pert, dim))
    src = rng.integers(0, v - n_pert, n_pert)
    emb = np.vstack([emb, emb[src] + rng.normal(0, 0.02, (n_pert, dim))])
    lab = np.concatenate([lab, lab[src]])
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    order = rng.permutation(v)
    emb, lab = emb[order].astype(np.float32), lab[order]
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    }), os.path.join(out, "embeddings.parquet"))


def generate(workload, seed, out, scale="full"):
    d = declared(workload, scale)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload in ("audit_rebuild_capture", "audit_lookup"):
        t = gen_audit(rng, d, out)
        if workload == "audit_lookup":
            gen_questions(rng, t, d["questions"], out)
        else:
            gen_capture(rng, d, out)
    elif workload == "corpus_dedup":
        gen_corpus(rng, d, out)
    return d


# ------------------------------------------------------------- verify --

def _zipf_fit(con, path):
    """Least-squares slope of log(count) on log(rank) over the 100 hottest
    entities — the Zipf exponent the feed actually has."""
    cnt = [r[0] for r in con.execute(
        f"SELECT count(*) c FROM '{path}' GROUP BY user_id ORDER BY c DESC LIMIT 100"
    ).fetchall()]
    x = np.log(np.arange(1, len(cnt) + 1))
    return float(-np.polyfit(x, np.log(cnt), 1)[0])


def measure(workload, out):
    """Measured input properties, keyed like the declared ones."""
    import duckdb
    con = duckdb.connect()
    m = {}
    if workload in ("audit_rebuild_capture", "audit_lookup"):
        ev = os.path.join(out, "events.parquet")
        rows, ents, t_rows, days = con.execute(
            f"""SELECT count(*), count(DISTINCT user_id),
                  count(*) FILTER (WHERE event_type = 'error' AND event_id % 50 = 0),
                  date_diff('day', min(ts), max(ts)) + 1
                FROM '{ev}'""").fetchone()
        m.update(rows=rows, distinct_entities=ents, t_row_share=t_rows / rows,
                 zipf_s=_zipf_fit(con, ev), days=days)
        if workload == "audit_lookup":
            with open(os.path.join(out, "questions.json")) as f:
                m["questions"] = len(json.load(f))
    if workload == "audit_rebuild_capture":
        files = sorted(os.path.join(r, f) for r, _, fs in os.walk(os.path.join(out, "slices"))
                       for f in fs if f == "events.parquet")
        per = [con.execute(f"SELECT count(*) FROM '{f}'").fetchone()[0] for f in files]
        m.update(slices=len(files), slice_rows=min(per) if per else 0)
    elif workload == "corpus_dedup":
        dp = os.path.join(out, "documents.parquet")
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT text) FROM '{dp}'").fetchone()
        # near-duplicate pairs: same block and length, different text, at
        # least 90% of word positions equal
        near = con.execute(f"""
            WITH d AS (SELECT doc_id, lang, source, str_split(text, ' ') AS w
                       FROM '{dp}')
            SELECT count(*) FROM d a JOIN d b
              ON a.lang = b.lang AND a.source = b.source AND len(a.w) = len(b.w)
                 AND a.doc_id < b.doc_id AND a.w <> b.w
            WHERE list_sum(list_transform(range(1, len(a.w) + 1),
                    i -> CASE WHEN a.w[i] = b.w[i] THEN 1 ELSE 0 END)) >= 0.9 * len(a.w)
            """).fetchone()[0]
        ep = os.path.join(out, "embeddings.parquet")
        v, dim = con.execute(f"SELECT count(*), max(len(embedding)) FROM '{ep}'").fetchone()
        close = con.execute(f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM '{ep}')
            SELECT count(*) FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.x, b.x) > 0.99""").fetchone()[0]
        m.update(docs=n, exact_dup_share=(n - distinct) / n, near_dup_share=near / n,
                 vectors=v, dim=dim, perturbed_share=close / v)
    return m


# declared key -> (measured key, relative tolerance); exact when 0
CHECKS = {
    "rows": ("rows", 0), "questions": ("questions", 0), "days": ("days", 0),
    "zipf_s": ("zipf_s", 0.15), "t_row_share": ("t_row_share", 0.6),
    "distinct_entity_share": ("distinct_entity_share", 0.05),
    "slices": ("slices", 0), "slice_rows": ("slice_rows", 0),
    "docs": ("docs", 0), "exact_dup_share": ("exact_dup_share", 0.35),
    "near_dup_share": ("near_dup_share", 0.35),
    "vectors": ("vectors", 0), "dim": ("dim", 0),
    "perturbed_share": ("perturbed_share", 0.35),
}


def verify(workload, out, scale="full"):
    """(ok, problems, measured): the written inputs against workloads.json."""
    d = declared(workload, scale)
    m = measure(workload, out)
    if "distinct_entities" in m:
        m["distinct_entity_share"] = m["distinct_entities"] / d["entities"]
    problems = []
    for key, (mk, tol) in CHECKS.items():
        if key not in d:
            continue
        want, got = d[key], m.get(mk)
        ok = got is not None and (got == want if tol == 0
                                  else abs(got - want) <= tol * abs(want))
        if not ok:
            problems.append(f"{key}: declared {want}, measured {got}")
    return not problems, problems, m


if __name__ == "__main__":
    a = sys.argv[1:]
    scale = "full"
    if "--scale" in a:
        i = a.index("--scale"); scale = a[i + 1]; del a[i:i + 2]
    wl, seed, out = a[0], int(a[1]), a[2]
    generate(wl, seed, out, scale)
    ok, problems, m = verify(wl, out, scale)
    print(json.dumps({"workload": wl, "seed": seed, "ok": ok,
                      "problems": problems, "measured": m}, indent=1))
    sys.exit(0 if ok else 1)
