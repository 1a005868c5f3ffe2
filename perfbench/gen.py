"""Seeded input generators, one per workload.

Each generator writes the workload's inputs and a `plan.properties`
(op schedule, sizes, caps) under `out`, plus a smaller throwaway input
of the same shape under `out/warm` for the warm-up op. The same seed
gives byte-identical inputs; the program under test sees only these
files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write_plan(out, plan):
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "plan.properties"), "w") as f:
        for k in sorted(plan):
            f.write(f"{k}={plan[k]}\n")


def _parquet(path, columns, schema=None, files=1):
    """`files` parquet files of contiguous row slices (one scan task each)."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns, schema=schema)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- stations

BRANDS = ["BP", "BP Connect", "Mobil", "Z", "Caltex", "Gull", "Waitomo"]
CITIES = ["Christchurch", "Auckland", "Wellington", "Hamilton", "Dunedin",
          "Tauranga", "Napier", "Nelson", "Rotorua", "Timaru"]
STREETS = ["Moorhouse Ave", "Main North Rd", "Riccarton Rd", "Great South Rd",
           "Queen St", "Cuba St", "Victoria St", "High St", "Papanui Rd"]
STATES = ["Canterbury", "Auckland", "Wellington", "Waikato", "Otago"]
DIALECTS = ("bp", "mobil", "places")
PREFIX = {"bp": "bp-", "mobil": "mob-", "places": "plc-"}
# fixed shares of each night's per-dialect batch
DUP_SHARE = 0.10      # records repeating a key already in the same batch
OVERLAP_SHARE = 0.50  # records whose key is already in the station table


def _station(rng, key, dialect):
    """One station as the unified row (what normalization yields)."""
    city = CITIES[rng.integers(len(CITIES))]
    addr = f"{int(rng.integers(1, 999))} {STREETS[rng.integers(len(STREETS))]}"
    lat = round(float(-47 + 13 * rng.random()), 6)
    lng = round(float(166 + 12 * rng.random()), 6)
    brand = BRANDS[rng.integers(len(BRANDS))]
    name = f"{brand} {city} {int(rng.integers(1000))}"
    if dialect == "places":
        # places carries one name, derives city from the vicinity and
        # fills state/postcode/country with literals
        return (key, name, name, lat, lng, f"{addr}, {city}", city, "", "", "NZ")
    return (key, brand, name, lat, lng, addr, city,
            STATES[rng.integers(len(STATES))], f"{int(rng.integers(1000, 9999))}", "NZ")


def _payload(dialect, rows):
    """The dialect's API response for `rows` (unified tuples)."""
    if dialect == "bp":
        return json.dumps([{"id": r[0], "site_brand": r[1], "name": r[2], "lat": r[3],
                            "lng": r[4], "address": r[5], "city": r[6], "state": r[7],
                            "postcode": r[8], "country_code": r[9]} for r in rows])
    if dialect == "mobil":
        return json.dumps({"Locations": [
            {"LocationID": r[0], "BrandName": r[1], "LocationName": r[2], "Latitude": r[3],
             "Longitude": r[4], "AddressLine1": r[5], "City": r[6], "StateProvince": r[7],
             "PostalCode": r[8], "Country": r[9]} for r in rows]})
    return json.dumps({"results": [
        {"place_id": r[0], "name": r[2], "geometry": {"location": {"lat": r[3], "lng": r[4]}},
         "vicinity": r[5]} for r in rows]})


STATION_COLS = ["location_id", "brand_name", "location_name", "latitude", "longitude",
                "address_line1", "city", "state_province", "postal_code", "country"]
STATION_SCHEMA = pa.schema([(c, pa.float64() if c in ("latitude", "longitude") else pa.string())
                            for c in STATION_COLS])


def station_etl(out, seed, nights, n_existing=10000, per_dialect=500, page=50,
                backfill_every=4, warm=True):
    rng = _rng(seed, 1)
    next_id = {d: 0 for d in DIALECTS}
    pool = {d: [] for d in DIALECTS}  # keys in the table, per dialect

    def new_key(d):
        next_id[d] += 1
        return f"{PREFIX[d]}{next_id[d]:08d}"

    existing = []
    for i in range(n_existing):
        d = DIALECTS[i % 3]
        k = new_key(d)
        pool[d].append(k)
        existing.append(_station(rng, k, d))
    _parquet(os.path.join(out, "stations0"),
             {c: [r[j] for r in existing] for j, c in enumerate(STATION_COLS)},
             STATION_SCHEMA)

    plan = {"nights": nights, "backfill_every": backfill_every, "date0": "2024-03-01",
            "dup_share": DUP_SHARE, "overlap_share": OVERLAP_SHARE}
    for n in range(1, nights + 1):
        ndir = os.path.join(out, "nights", f"{n:05d}")
        os.makedirs(ndir, exist_ok=True)
        fresh = {}
        rows_total = 0
        for d in DIALECTS:
            n_dup = int(per_dialect * DUP_SHARE)
            n_old = int(per_dialect * OVERLAP_SHARE)
            n_new = per_dialect - n_dup - n_old
            old = rng.choice(len(pool[d]), size=n_old, replace=False)
            keys = [pool[d][i] for i in old] + [new_key(d) for _ in range(n_new)]
            rows = [_station(rng, k, d) for k in keys]
            # duplicates repeat a key of this batch with other field values
            dup_of = rng.integers(len(rows), size=n_dup)
            rows += [_station(rng, rows[i][0], d) for i in dup_of]
            rows = [rows[i] for i in rng.permutation(len(rows))]
            fresh[d] = keys[n_old:]
            with open(os.path.join(ndir, f"{d}.jsonl"), "w") as f:
                for p in range(0, len(rows), page):
                    f.write(_payload(d, rows[p:p + page]) + "\n")
            rows_total += len(rows)
        for d in DIALECTS:
            pool[d].extend(fresh[d])
        plan["input_rows"] = plan.get("input_rows", 0) + rows_total
    _write_plan(out, plan)
    if warm:
        # the same sizes and night schedule as the real input, so every
        # op path is compiled and JIT-warmed before timing
        station_etl(os.path.join(out, "warm"), seed + 7919, nights, n_existing, per_dialect,
                    page, backfill_every, warm=False)


# ------------------------------------------------------------------ corpus

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
HEADER = ("site nav home products pricing docs blog careers about contact legal "
          "privacy terms cookies help search login register cart checkout wishlist "
          "support faq sitemap")
FOOTER = "copyright holder all rights reserved terms apply see legal page"
TEMPLATE = " ".join(f"tmpl{i}" for i in range(40))
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _vocab(n=3000):
    syll = ["ka", "lo", "mi", "ren", "sa", "tu", "vo", "zen", "pra", "qui", "dex", "mor"]
    return [f"{syll[i % 12]}{syll[(i // 12) % 12]}{i}" for i in range(n)]


VOCAB = _vocab()
# Zipf-like word frequencies: a few common content words, a long tail
ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
ZIPF /= ZIPF.sum()


def _text(rng, lo=20, hi=80):
    n = int(rng.integers(lo, hi))
    words = rng.choice(len(VOCAB), size=n, p=ZIPF)
    out = []
    for w in words:
        out.append(VOCAB[w])
        if rng.random() < 0.25:
            out.append(STOPWORDS[rng.integers(len(STOPWORDS))])
    return " ".join(out)


def _mutate(text, copy):
    """make_scale_corpus.py's copy recipe: 0-4 exact clones, 5-9 every
    5th word replaced (near-dup family), 10+ every 3rd (independent)."""
    if copy < 5:
        return text
    step = 5 if copy < 10 else 3
    return " ".join(f"c{copy}w{i}" if i % step == step - 1 else w
                    for i, w in enumerate(text.split(" ")))


def corpus(rng, originals, copies, stride):
    """The skewed corpus with make_scale_corpus.py's four pathologies:
    exact-clone cliques, near-dup families, boilerplate shingles on
    every 3rd/11th original (header/footer, in every copy) and a
    degenerate template family (every 61st original)."""
    base = [_text(rng) for _ in range(originals)]
    ids, texts, langs, sources = [], [], [], []
    for c in range(copies):
        for o, t in enumerate(base):
            if o % 61 == 0:
                t = TEMPLATE
            else:
                t = _mutate(t, c)
                if o % 3 == 0:
                    t = HEADER + " " + t
                if o % 11 == 0:
                    t = t + " " + FOOTER
            ids.append(o + c * stride)
            texts.append(t)
            langs.append(LANGS[o % len(LANGS)])
            sources.append(f"src{o % 20}")
    return ids, texts, langs, sources


def _embeddings(rng, n, dim, clusters):
    """Gaussian mixture with heavy-hitter cluster weights (the skew
    IVF lists and LSH buckets see at scale)."""
    w = 1.0 / np.arange(1, clusters + 1) ** 1.2
    w /= w.sum()
    centers = rng.normal(size=(clusters, dim))
    assign = rng.choice(clusters, size=n, p=w)
    return (centers[assign] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32), assign


def _vec_column(vecs):
    return pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32()))


def curate_corpus(out, seed, probes, originals=200, copies=15, dim=64, probe_batch=4,
                  files=8, warm=True):
    """The corpus and its embeddings are written as `files` files each,
    so the scans run several tasks per core."""
    rng = _rng(seed, 2)
    stride = 1_000_000
    ids, texts, langs, sources = corpus(rng, originals, copies, stride)
    n = len(ids)
    template = sum(t == TEMPLATE for t in texts)
    _parquet(os.path.join(out, "docs"), {
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
        "source": sources, "n_chars": pa.array([len(t) for t in texts], pa.int64())},
        files=files)
    # one embedding per original, cloned into every copy (as the recipe
    # clones the embedding table): bucket density scales with copies
    base_vecs, labels = _embeddings(rng, originals, dim, 16)
    _parquet(os.path.join(out, "emb"), {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": _vec_column(np.tile(base_vecs, (copies, 1))),
        "label": pa.array(np.tile(labels, copies).astype(np.int32), pa.int32())},
        files=files)
    nq = probes * probe_batch
    qvecs, _ = _embeddings(rng, nq, dim, 16)
    _parquet(os.path.join(out, "queries"), {
        "vec_id": pa.array(np.arange(nq, dtype=np.int64) + 900_000_000, pa.int64()),
        "embedding": _vec_column(qvecs),
        "batch": pa.array(np.arange(nq) // probe_batch, pa.int32())})
    # caps scaled with the corpus: the header family (1/3 of originals,
    # every copy) exceeds max_postings, the template family stays under
    # it and exceeds max_bucket
    _write_plan(out, {
        "input_rows": n + nq, "probes": probes, "probe_batch": probe_batch, "k": 10,
        "nlists": 16, "nprobe": 4, "max_postings": max(2, n // 9),
        "winnow_max_postings": max(2, n // 9), "max_bucket": max(2, template * 2 // 3),
        "minhash_threshold": 0.5, "kernel_rep": 8})
    if warm:
        curate_corpus(os.path.join(out, "warm"), seed + 7919, 2, 62, 6, dim, probe_batch,
                      files, warm=False)


# ------------------------------------------------------------------ nightly

def nightly_fold(out, seed, n_ops, base_docs=1500, batch_docs=150, retract_every=4,
                 retract_share=0.03, redeliver_share=0.10, warm=True):
    """A crawl: a base batch, then small nightly deltas with ascending
    ids (some re-deliver or lightly edit earlier docs), and every
    `retract_every`-th op a retraction of a sample of delivered ids."""
    rng = _rng(seed, 3)
    delivered_ids, delivered_texts = [], []
    next_id = 1
    plan = {"ops": n_ops}
    fold_i = retract_i = 0
    for op in range(1, n_ops + 1):
        if op > 1 and op % retract_every == 0:
            retract_i += 1
            k = max(1, int(len(delivered_ids) * retract_share))
            ids = sorted(rng.choice(delivered_ids, size=k, replace=False).tolist())
            _parquet(os.path.join(out, "retract", str(retract_i)),
                     {"doc_id": pa.array(ids, pa.int64())})
            plan[f"op.{op}"] = f"retract:{retract_i}:{op}"
            plan["input_rows"] = plan.get("input_rows", 0) + k
            continue
        fold_i += 1
        n = base_docs if op == 1 else batch_docs
        ids, texts = [], []
        for _ in range(n):
            if delivered_texts and rng.random() < redeliver_share:
                t = delivered_texts[rng.integers(len(delivered_texts))]
                if rng.random() < 0.5:  # edited copy: near-dup, not exact
                    t = _mutate(t, 5 + int(rng.integers(5)))
            else:
                t = _text(rng)
            ids.append(next_id)
            texts.append(t)
            next_id += 1
        _parquet(os.path.join(out, "batches", str(fold_i)), {
            "doc_id": pa.array(ids, pa.int64()), "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in ids],
            "source": [f"src{i % 20}" for i in ids]})
        delivered_ids += ids
        delivered_texts += texts
        plan[f"op.{op}"] = f"fold:{fold_i}:{op}"
        plan["input_rows"] = plan.get("input_rows", 0) + n
    _write_plan(out, plan)
    if warm:
        # one fold and one retraction, so both op paths are warm
        nightly_fold(os.path.join(out, "warm"), seed + 7919, 2, base_docs // 10,
                     batch_docs // 5, 2, retract_share, redeliver_share, warm=False)


# ----------------------------------------------------------------- registry

# A fixed sample of the default bench lines: every sixteenth, in name
# order, of those that need no prebuilt index or state and take at most
# 1 s cold at this scale on a 4-core box (the sweep must fit one run).
# Every seed runs the same lines; the seed moves only their order.
REGISTRY_LINES = [
    "ns_ann_multitable", "ns_decontaminate", "ns_embed_neardup", "ns_multimodal_adpcm_embed",
    "ns_phrase_search", "ns_sketches", "ns_ttr", "sql_large_orders", "t3_literal_defaults",
    "t_datetime_funcs", "t_pagerank", "t_star_join"]

# Warm-up lines, outside the sample: they warm the JIT over planning and
# codegen paths while the sampled lines' own code stays uncompiled.
REGISTRY_WARM = ["ns_bm25_topk", "ns_drift_report", "s4_t2_json_decode", "sql_pricing_summary",
                 "t_window_funcs", "t_agg_funcs", "t_string_funcs", "t_outer_join"]

PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
             "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]


def _cents(rng, lo, hi, n):
    """Two-decimal amounts, exact as integer cents / 100."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0


def star_schema(out, rng, sf=0.01):
    """The star schema plus events, documents and embeddings, in the
    shape and value domains of the repository's test tables at `sf`."""
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda xs: pa.array(xs, pa.int32())  # noqa: E731
    i64 = lambda xs: pa.array(xs, pa.int64())  # noqa: E731
    write("region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    write("nation", {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32([i % 5 for i in range(25)])})
    write("customer", {
        "c_custkey": i64(range(n_cust)), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(25, size=n_cust)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(5, size=n_cust)]})
    write("supplier", {
        "s_suppkey": i64(range(n_supp)), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(25, size=n_supp)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(8, size=n_part), rng.integers(8, size=n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(6, size=n_part)],
        "p_size": i32(rng.integers(1, 51, size=n_part)),
        "p_retailprice": 900.0 + rng.integers(0, 1000, size=n_part) / 10.0})
    day = np.datetime64("1995-01-01", "us")
    days = np.timedelta64(1, "D").astype("timedelta64[us]")
    write("orders", {
        "o_orderkey": i64(range(n_ord)), "o_custkey": i64(rng.integers(n_cust, size=n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(3, size=n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(day + rng.integers(0, 2400, size=n_ord) * days,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(5, size=n_ord)]})
    write("lineitem", {
        "l_orderkey": i64(rng.integers(n_ord, size=n_line)),
        "l_partkey": i64(rng.integers(n_part, size=n_line)),
        "l_suppkey": i64(rng.integers(n_supp, size=n_line)),
        "l_linenumber": i32(rng.integers(1, 8, size=n_line)),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(3, size=n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(2, size=n_line)],
        "l_shipdate": pa.array(day + rng.integers(1, 2500, size=n_line) * days,
                               pa.timestamp("us"))})
    n_ev = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, size=n_ev).astype("timedelta64[us]"))
    write("events", {
        "event_id": i64(range(n_ev)), "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(150, size=n_ev)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(5, size=n_ev)],
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(100, size=n_ev)]})
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[rng.integers(i)] + " dup")
        else:
            texts.append(" ".join(DOC_WORDS[w] for w in
                                  rng.integers(len(DOC_WORDS), size=rng.integers(10, 100))))
    write("documents", {
        "doc_id": i64(range(n_doc)), "text": texts,
        "lang": [("en", "en", "de", "fr", "es", "zh")[i] for i in rng.integers(6, size=n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    vecs, labels = _embeddings(rng, 500, 64, 10)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {"vec_id": i64(range(500)), "embedding": _vec_column(vecs),
                         "label": pa.array(labels.astype(np.int32), pa.int32())})


def registry_sweep(out, seed, warm=True):
    rng = _rng(seed, 4)
    star_schema(os.path.join(out, "sf"), rng)
    lines = [REGISTRY_LINES[i] for i in rng.permutation(len(REGISTRY_LINES))]
    plan = {"queries": len(lines), "input_rows": sum(
        pq.read_metadata(os.path.join(out, "sf", f)).num_rows
        for f in os.listdir(os.path.join(out, "sf")))}
    plan.update({f"query.{n}": q for n, q in enumerate(lines, 1)})
    _write_plan(out, plan)
    if warm:
        wrng = _rng(seed + 7919, 4)
        star_schema(os.path.join(out, "warm", "sf"), wrng, sf=0.001)
        _write_plan(os.path.join(out, "warm"), {"queries": len(REGISTRY_WARM), **{
            f"query.{n}": q for n, q in enumerate(REGISTRY_WARM, 1)}})
