"""Output checks, run after the timed section, against recomputations
that do not use the library: DuckDB and plain Python."""
import glob
import json
import os

import duckdb


def _plan(inp):
    plan = {}
    with open(os.path.join(inp, "plan.properties")) as f:
        for line in f:
            k, _, v = line.rstrip("\n").partition("=")
            plan[k] = v
    return plan


def _bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _files(path):
    return sum(len(fs) for _, _, fs in os.walk(path))


def _same(con, expected, actual):
    """Multiset equality of two relations, plus an order-free digest of
    each (count and sum of row hashes) for the report."""
    missing = con.sql(f"SELECT count(*) FROM ({expected} EXCEPT ALL {actual})").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM ({actual} EXCEPT ALL {expected})").fetchone()[0]
    digest = lambda q: "%d:%d" % con.sql(  # noqa: E731
        f"SELECT count(*), coalesce(sum(hash(x) % 1000000007), 0) FROM ({q}) x").fetchone()
    return missing == 0 and extra == 0, {"missing": missing, "extra": extra,
                                         "expected_digest": digest(expected),
                                         "actual_digest": digest(actual)}


# --------------------------------------------------------------- xxhash64

_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc, lane):
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data, seed=42):
    """XXH64 as Spark's `xxhash64` applies it to a string (UTF-8 bytes,
    seed 42), returned as a signed 64-bit value."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


# ------------------------------------------------------------ station_etl

def _normalized(dialect, payload):
    """The unified rows a payload normalizes to (the reference's field
    mapping per dialect)."""
    p = json.loads(payload)
    if dialect == "bp":
        return [(r["id"], r["site_brand"], r["name"], r["lat"], r["lng"], r["address"],
                 r["city"], r["state"], r["postcode"], r["country_code"]) for r in p]
    if dialect == "mobil":
        return [(r["LocationID"], r["BrandName"], r["LocationName"], r["Latitude"],
                 r["Longitude"], r["AddressLine1"], r["City"], r["StateProvince"],
                 r["PostalCode"], r["Country"]) for r in p["Locations"]]
    out = []
    for r in p["results"]:
        v = r["vicinity"]
        city = v.split(",")[-1].strip(" ") if "," in v else ""
        loc = r["geometry"]["location"]
        out.append((r["place_id"], r["name"], r["name"], loc["lat"], loc["lng"], v, city,
                    "", "", "NZ"))
    return out


FUELS = [("Unleaded 91", 279, 0), ("Unleaded 95", 298, 1), ("Unleaded 98", 311, 2),
         ("Diesel", 210, 3)]
STATION_COLS = ("location_id, brand_name, location_name, latitude, longitude, address_line1, "
                "city, state_province, postal_code, country")


def station_etl(inp, out, jvm):
    """Recompute the collect (first-seen dedup per key by the total
    order of the other columns, anti-join against the table), the
    appended station table, the daily and backfilled prices and their
    last-write-wins upsert, and compare both final tables. The anti-join
    must have run as a sort-merge join (the shuffle path), not a
    broadcast."""
    import datetime
    import pandas as pd
    plan = _plan(inp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    stations = con.sql(f"SELECT {STATION_COLS} FROM read_parquet('{inp}/stations0/*.parquet')"
                       ).fetchall()
    added = {r[0]: 0 for r in stations}
    rows = list(stations)
    nights = int(plan["nights"])
    for n in range(1, nights + 1):
        before = set(added)
        for d in ("bp", "mobil", "places"):
            first = {}
            with open(os.path.join(inp, "nights", f"{n:05d}", f"{d}.jsonl")) as f:
                for line in f:
                    for r in _normalized(d, line):
                        if r[0] not in first or r[1:] < first[r[0]][1:]:
                            first[r[0]] = r
            for k, r in first.items():
                if k not in before:
                    added[k] = n
                    rows.append(r)
    exp_st = pd.DataFrame(rows, columns=[c.strip() for c in STATION_COLS.split(",")])
    con.register("exp_st", exp_st)
    ok_st, st = _same(con, "SELECT * FROM exp_st",
                      f"SELECT {STATION_COLS} FROM read_parquet('{out}/stations/*.parquet', "
                      "union_by_name=true)")

    date0 = datetime.date.fromisoformat(plan["date0"])
    every = int(plan["backfill_every"])
    writes = []
    for n in range(1, nights + 1):
        day = date0 + datetime.timedelta(days=n - 1)
        back = 2 if n % every == 0 else 0
        writes += [(str(day - datetime.timedelta(days=b)), n) for b in range(back + 1)]
    con.register("writes", pd.DataFrame(writes, columns=["date", "night"]))
    con.register("added", pd.DataFrame(
        [(k, v, xxhash64(k.encode()) % 1000000007) for k, v in added.items()],
        columns=["location_id", "night", "knum"]))
    con.register("fuels", pd.DataFrame(FUELS, columns=["fuel_type", "base_cents", "ft_idx"]))
    expected = """
        SELECT w.date, a.location_id, f.fuel_type,
               (f.base_cents - 37 + (a.knum::HUGEINT * 2654435761 + f.ft_idx * 7919) % 61)::BIGINT
                 AS cents,
               a.location_id || '|' || f.fuel_type AS pk, max(w.night)::BIGINT AS ver
        FROM writes w JOIN added a ON a.night <= w.night CROSS JOIN fuels f
        GROUP BY ALL"""
    actual = f"""
        SELECT CAST(date AS VARCHAR) AS date, location_id, fuel_type,
               round(price * 100)::BIGINT AS cents, pk, ver::BIGINT AS ver
        FROM read_parquet('{out}/prices/*/*.parquet', hive_partitioning=true)"""
    ok_pr, pr = _same(con, expected, actual)
    input_bytes = _bytes(os.path.join(inp, "stations0")) + _bytes(os.path.join(inp, "nights"))
    stored = _bytes(os.path.join(out, "stations")) + _bytes(os.path.join(out, "prices"))
    shuffle_join = jvm["anti_join_smj"] and not jvm["anti_join_broadcast"]
    layers = {k: v for k, v in jvm.items() if "." in k}
    layers["sink.state_files"] = (_files(os.path.join(out, "stations"))
                                  + _files(os.path.join(out, "prices")))
    return {"ok": ok_st and ok_pr and shuffle_join, "stations": st, "prices": pr,
            "anti_join": {k: v for k, v in jvm.items() if "." not in k},
            "e2e": {"stored_bytes_per_input_byte": stored / input_bytes},
            "layers": layers}


# ---------------------------------------------------------- curate_corpus

def exact_pairs(inp, threshold):
    """Every doc pair whose word-trigram sets have Jaccard >= threshold,
    by an all-pairs self-join on the shingle (no caps)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"""
        CREATE TABLE sh AS
        WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
                   FROM read_parquet('{inp}/docs/*.parquet')),
        u AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
              FROM t)
        SELECT DISTINCT doc_id,
               CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
                    ELSE array_to_string(w[i:i + 2], ' ') END AS s
        FROM u""")
    con.execute("CREATE TABLE n AS SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id")
    num, den = threshold.as_integer_ratio()
    return set(con.sql(f"""
        SELECT p.a, p.b FROM (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY ALL) p
        JOIN n na ON na.doc_id = p.a JOIN n nb ON nb.doc_id = p.b
        WHERE p.inter * {den} >= {num} * (na.c + nb.c - p.inter)""").fetchall())


def curate_corpus(inp, out, jvm):
    """Every probe must return k results whose recall against
    bruteForceTopK (computed in the JVM) clears 0.5 — a floor that a
    broken index or probe misses, not a quality target: the IVF index
    is approximate and its recall is reported as a metric. Every MinHash
    verified pair must be a true near-dup pair; their recall against the
    exact all-pairs set is reported."""
    plan = _plan(inp)
    exact = exact_pairs(inp, float(plan["minhash_threshold"]))
    with open(os.path.join(out, "minhash_pairs.tsv")) as f:
        got = {tuple(sorted(map(int, line.split("\t")))) for line in f if line.strip()}
    recall_nd = len(got & exact) / max(1, len(exact))
    ok = (got <= exact and jvm["ann_results"] == jvm["ann_expected"]
          and jvm["recall_ann"] >= 0.5)
    layers = {k: v for k, v in jvm.items() if "." in k}
    return {"ok": ok, "false_pairs": len(got - exact), "exact_pairs": len(exact),
            "e2e": {"recall_ann": jvm["recall_ann"], "recall_neardup": recall_nd},
            "layers": layers}


# ----------------------------------------------------------- nightly_fold

def nightly_fold(inp, out, jvm):
    """Convergence is checked in the JVM (the folded-and-retracted
    survivors against a one-shot Curation.curate of the same corpus)."""
    stored = _bytes(os.path.join(out, "state"))
    return {"ok": bool(jvm["converged"]), **jvm,
            "e2e": {"stored_bytes_per_input_byte": stored / _bytes(os.path.join(inp, "batches"))}}


# --------------------------------------------------------- registry_sweep

def registry_sweep(inp, out, jvm):
    """Each line's output against its OracleSql twin run by DuckDB over
    the same tables (both sides fully ordered by the query); lines with
    no oracle are listed as unchecked."""
    sf = os.path.join(inp, "sf")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    plan = _plan(inp)
    names = [plan[f"query.{n}"] for n in range(1, int(plan["queries"]) + 1)]
    failures, unchecked = [], []
    for name in names:
        files = glob.glob(os.path.join(out, "results", name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no output")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        if name not in oracle:
            unchecked.append(name)
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except duckdb.Error as e:
            failures.append(f"{name}: oracle error {e}")
            continue
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) or \
                (got.astype(str).values != exp.astype(str).values).any():
            failures.append(f"{name}: differs from its oracle")
    return {"ok": not failures, "failures": failures[:10], "unchecked": unchecked,
            "checked": len(names) - len(unchecked) - len(failures)}


def section(workload, inp, sec, jvm):
    out = sec["out"]
    if workload == "station_etl":
        return station_etl(inp, out, jvm)
    if workload == "curate_corpus":
        return curate_corpus(inp, out, jvm)
    if workload == "nightly_fold":
        return nightly_fold(inp, out, jvm)
    return registry_sweep(inp, out, jvm)
