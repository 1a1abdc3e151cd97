"""Seeded input generators for the benchmark's three workloads.

Every generator is a pure function of its seed: the same seed writes the
same files and the same manifest of planted answers.

  tables(dir, seed, sf)     TPC-H-shaped tables (region .. embeddings) in
                            the layout of the engine's synthetic testdata
                            (FIXTURES.md section B), one parquet per table.
  etl_star(dir, seed)       the I94 capstone inputs (FIXTURES.md A1-A3):
                            sas_data/ parquet, the demographics CSV and the
                            country-code CSV, with planted orphans, nulls,
                            duplicate admnums and 30 arrival dates.
  corpus(dir, seed, n)      a curation corpus with planted exact duplicates,
                            near-duplicates, containment pairs and
                            contaminated documents.

Each returns a manifest dict that is also written as manifest.json.
"""
import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS31 = ("a the row line part scan fast query agg spark table hash slow "
           "value filter customer stream key group order window join data "
           "sort small vector batch big merge column dup").split()


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _texts(rng, n, vocab, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    words = np.asarray(vocab, dtype=object)[idx]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    return out


# ---------------------------------------------------------------- tables

def tables(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    day = np.timedelta64(1, "D")

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        f"{out}/nation.parquet")

    r = _rng(seed, 1)
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.integers(-99999, 999999, n_cust) / 100.0, 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out}/customer.parquet")

    r = _rng(seed, 2)
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.integers(-99999, 999999, n_supp) / 100.0, 2)}),
        f"{out}/supplier.parquet")

    r = _rng(seed, 3)
    adj = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")

    r = _rng(seed, 4)
    d0 = np.datetime64("1995-01-01")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.integers(100000, 50000000, n_ord) / 100.0, 2),
        "o_orderdate": (d0 + r.integers(0, 2404, n_ord) * day).astype("datetime64[us]"),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")

    r = _rng(seed, 5)
    _write(pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.integers(90000, 10500000, n_li) / 100.0, 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": (np.datetime64("1995-01-02") + r.integers(0, 2498, n_li) * day)
        .astype("datetime64[us]")}),
        f"{out}/lineitem.parquet")

    r = _rng(seed, 6)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(r.integers(0, span_us, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(1, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    r = _rng(seed, 7)
    text = _texts(r, n_doc, WORDS31, 10, 100)
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": r.choice(["en", "fr", "de", "es", "zh"], n_doc,
                         p=[0.41, 0.15, 0.14, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}),
        f"{out}/documents.parquet")

    r = _rng(seed, 8)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32))})
    pq.write_table(emb, f"{out}/embeddings.parquet")

    manifest = {"sf": sf, "seed": seed, "rows": {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_doc, "embeddings": n_emb}}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


# -------------------------------------------------------------- etl_star

FACT_ROWS = 3096313
DEMO_ROWS = 2891
COUNTRY_ROWS = 289
SAS_APRIL_2016 = 20545  # SAS day of 2016-04-01


def etl_star(out, seed):
    """I94 inputs at the reference's size (FIXTURES.md A1-A3)."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 11)

    # A3: country codes, unique, UPPERCASE names
    codes = np.sort(r.choice(np.arange(100, 1000), COUNTRY_ROWS, replace=False))
    names = [f"COUNTRY {i:03d}" for i in range(COUNTRY_ROWS)]
    with open(f"{out}/I94CIT_I94RES.csv", "w") as f:
        f.write("Code,I94CTRY\n" + "\n".join(
            f"{c},{n}" for c, n in zip(codes, names)))

    # A2: demographics at (city, race) grain; per-city values repeat
    states = [f"{a}{b}" for a in "ABCDEFG" for b in "ABCDEFG"][:49]
    races = ["White", "Black", "Asian", "Hispanic or Latino",
             "American Indian and Alaska Native"]
    rows, city = [], 0
    while len(rows) < DEMO_ROWS:
        st = states[city % len(states)]
        nr = min(int(r.integers(1, 6)), DEMO_ROWS - len(rows))
        med = round(float(r.uniform(25, 45)), 1)
        male, female = int(r.integers(20000, 500000)), int(r.integers(20000, 500000))
        vets, foreign = int(r.integers(1000, 30000)), int(r.integers(1000, 90000))
        hh = round(float(r.uniform(2.0, 3.5)), 2)
        for race in races[:nr]:
            rows.append(f"City {city:04d};State {st};{med};{male};{female};"
                        f"{male + female};{vets};{foreign};{hh};{st};{race};"
                        f"{int(r.integers(100, 100000))}")
        city += 1
    with open(f"{out}/us-cities-demographics.csv", "w", encoding="utf-8") as f:
        f.write("﻿City;State;Median Age;Male Population;Female Population;"
                "Total Population;Number of Veterans;Foreign-born;"
                "Average Household Size;State Code;Race;Count\n")
        f.write("\n".join(rows) + "\n")

    # A1: the fact
    n = FACT_ROWS
    n_orphan_res = int(r.integers(5, 12))
    orphan_res = np.arange(1000, 1000 + n_orphan_res)
    res_pool = np.concatenate([codes, orphan_res])
    res_p = np.concatenate([np.full(len(codes), 0.99 / len(codes)),
                            np.full(n_orphan_res, 0.01 / n_orphan_res)])
    i94res = r.choice(res_pool, n, p=res_p).astype(np.float64)

    n_orphan_addr = int(r.integers(3, 9))
    orphan_addr = [f"Z{c}" for c in "ABCDEFGHIJ"[:n_orphan_addr]]
    addr_pool = np.array(states + orphan_addr, dtype=object)
    addr_p = np.concatenate([np.full(len(states), 0.995 / len(states)),
                             np.full(n_orphan_addr, 0.005 / n_orphan_addr)])
    i94addr = addr_pool[r.choice(len(addr_pool), n, p=addr_p)]
    i94addr[r.random(n) < 0.06] = None

    i94mode = r.choice([1.0, 2.0, 3.0, 9.0], n, p=[0.9, 0.02, 0.06, 0.02])
    i94mode[r.random(n) < 0.0001] = np.nan
    arrdate = (SAS_APRIL_2016 + r.integers(0, 30, n)).astype(np.float64)
    arrdate[:30] = SAS_APRIL_2016 + np.arange(30)  # every day present

    admnum = 5.5e10 + np.arange(n, dtype=np.float64) * 7.0
    n_dup = int(r.integers(500, 2000))
    dup_rows = r.choice(np.arange(1, n), n_dup, replace=False)
    admnum[dup_rows] = admnum[dup_rows - 1]
    # count the planted duplicates the way duplicateAdmnumCount does
    dup_count = int(n - len(np.unique(admnum)))

    def strcol(pool, p=None, null=0.0):
        v = np.asarray(pool, dtype=object)[r.choice(len(pool), n, p=p)]
        if null:
            v[r.random(n) < null] = None
        return v

    def nullcol(frac, make):
        v = np.full(n, None, dtype=object)
        m = r.random(n) >= frac
        v[m] = make(int(m.sum()))
        return v

    ports = ["NYC", "MIA", "LOS", "SFR", "CHI", "HOU", "ATL", "NEW", "BOS", "SEA"]
    fact = {
        "cicid": np.arange(1, n + 1, dtype=np.float64),
        "i94yr": np.full(n, 2016.0), "i94mon": np.full(n, 4.0),
        "i94cit": r.choice(codes, n).astype(np.float64),
        "i94res": i94res,
        "i94port": strcol(ports),
        "arrdate": arrdate,
        "i94mode": i94mode,
        "i94addr": i94addr,
        "depdate": arrdate + r.integers(1, 60, n),
        "i94bir": r.integers(0, 90, n).astype(np.float64),
        "i94visa": r.choice([1.0, 2.0, 3.0], n, p=[0.15, 0.8, 0.05]),
        "count": np.ones(n),
        "dtadfile": strcol([f"201604{d:02d}" for d in range(1, 31)]),
        "visapost": nullcol(0.62, lambda k: np.asarray(["SPL", "BNS", "MEX"], dtype=object)[r.integers(0, 3, k)]),
        "occup": nullcol(0.996, lambda k: np.asarray(["STU", "OTH"], dtype=object)[r.integers(0, 2, k)]),
        "entdepa": strcol(["G", "T", "O", "A"]),
        "entdepd": strcol(["O", "D", "I"], null=0.05),
        "entdepu": np.full(n, None, dtype=object),
        "matflag": strcol(["M"], null=0.05),
        "biryear": r.integers(1925, 2016, n).astype(np.float64),
        "dtaddto": strcol(["09302016", "10292016", "07152016"]),
        "gender": strcol(["F", "M", "X"], p=[0.48, 0.5, 0.02], null=0.14),
        "insnum": nullcol(0.965, lambda k: np.asarray(["3682", "3451"], dtype=object)[r.integers(0, 2, k)]),
        "airline": strcol(["AA", "UA", "DL", "BA", "LH", "AF"]),
        "admnum": admnum,
        "fltno": nullcol(0.008, lambda k: np.asarray(["00602", "00103", "00014"], dtype=object)[r.integers(0, 3, k)]),
        "visatype": strcol(["B1", "B2", "CP", "E2", "F1", "F2", "GMT", "M1", "WB", "WT"]),
    }
    schema = pa.schema([(k, pa.string() if v.dtype == object else pa.float64())
                        for k, v in fact.items()])
    # from_pandas: NaN becomes null, as in the reference's i94mode
    table = pa.table({k: pa.array(v, type=schema.field(k).type, from_pandas=True)
                      for k, v in fact.items()})
    sas = f"{out}/sas_data"
    os.makedirs(sas, exist_ok=True)
    parts = 14
    step = (n + parts - 1) // parts
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{sas}/part-{i:05d}.snappy.parquet")

    matched = np.isin(i94res, codes)
    manifest = {
        "seed": seed,
        "fact_rows": n,
        "input_bytes": sum(os.path.getsize(os.path.join(sas, p)) for p in os.listdir(sas)),
        "rows": {"immigration": n, "i94visa": 3, "i94mode": 4,
                 "us_cities_demographics": city, "country": COUNTRY_ROWS,
                 "i94date": 30},
        "orphans": {
            "immigration.i94res->country.Code": n_orphan_res,
            "immigration.i94addr->demographics.State Code": n_orphan_addr,
            "immigration.i94visa->i94visa.vid": 0,
            "immigration.i94mode->i94mode.i94mode": 0,
            "immigration.arrdate->i94date.arrival_sasdate": 0},
        "duplicate_admnum": dup_count,
        "null_i94mode": int(np.isnan(i94mode).sum()),
        "null_i94addr": int(sum(a is None for a in i94addr)),
        "calendar_dates": [str(np.datetime64("2016-04-01") + np.timedelta64(d, "D"))
                           for d in range(30)],
        "example_groups": int(len(np.unique(i94res[matched]))),
        "example_immigrants": int(matched.sum()),
    }
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


# ---------------------------------------------------------------- corpus

_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "gu",
        "ze", "bo", "fi", "ha", "ju", "xe", "qi", "so", "we"]
_STOP = {"en": ["the", "and", "of", "to", "is"],
         "fr": ["le", "la", "et", "les", "des"],
         "de": ["der", "die", "und", "das", "ist"],
         "es": ["el", "los", "y", "que", "del"],
         "zh": ["的", "是", "了", "在", "和"]}


def normalize(text):
    """Mirror of TextFunctions.normalize: lower(trim(collapse whitespace))."""
    return re.sub(r"\s+", " ", text).strip().lower()


def corpus(out, seed, n_docs):
    """Curation corpus: sf0.1-shaped documents (doc_id, text, lang,
    source, n_chars) over a syllable vocabulary with per-language
    function words, plus planted duplicates of four kinds."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 21)
    vocab = [a + b + c for a in _SYL for b in _SYL for c in ("", "n", "r")]
    langs = np.array(["en", "fr", "de", "es", "zh"])

    n_exact, n_near = n_docs * 3 // 100, n_docs * 3 // 100
    n_contain, n_contam = n_docs * 2 // 100, n_docs // 100
    n_base = n_docs - n_exact - n_near - n_contain - n_contam
    lang = langs[r.choice(5, n_docs, p=[0.41, 0.15, 0.14, 0.15, 0.15])]

    def fresh_text(lang_i):
        ln = int(r.integers(12, 160))
        w = np.asarray(vocab, dtype=object)[r.integers(0, len(vocab), ln)]
        stops = np.asarray(_STOP[lang_i], dtype=object)
        m = r.random(ln) < 0.1
        w[m] = stops[r.integers(0, 5, int(m.sum()))]
        return list(w)

    texts = [" ".join(fresh_text(lang[i])) for i in range(n_base)]

    base_ids = np.arange(n_base)
    # exact duplicates: case / whitespace variants of a base document
    for src in r.choice(base_ids, n_exact, replace=False):
        t = texts[src]
        v = int(r.integers(0, 3))
        texts.append(t.upper() if v == 0 else ("  " + t.replace(" ", "  ") if v == 1 else t))
    # near duplicates: one word in 40 substituted
    for src in r.choice(base_ids, n_near, replace=False):
        w = texts[src].split(" ")
        for j in range(0, len(w), 40):
            w[j] = vocab[int(r.integers(0, len(vocab)))]
        texts.append(" ".join(w))
    # containment pairs: a third of a long base document
    long_ids = base_ids[[len(texts[i].split(" ")) >= 90 for i in base_ids]]
    for src in r.choice(long_ids, n_contain, replace=False):
        w = texts[src].split(" ")
        k = len(w) // 3
        s = int(r.integers(0, len(w) - k))
        texts.append(" ".join(w[s:s + k]))
    # contaminated: a new document carrying a 6-word span of a benchmark
    # document (doc_id % 97 == 0, the pipeline's default benchmark ids)
    bench = base_ids[base_ids % 97 == 0]
    for i in range(n_contam):
        src = texts[int(r.choice(bench))].split(" ")
        s = int(r.integers(0, max(1, len(src) - 6)))
        host = fresh_text(lang[n_docs - 1 - i])
        cut = int(r.integers(0, len(host)))
        texts.append(" ".join(host[:cut] + src[s:s + 6] + host[cut:]))

    perm = r.permutation(n_docs - n_base) + n_base  # planted rows keep ids >= n_base
    texts = texts[:n_base] + [texts[i] for i in perm]
    doc_id = np.arange(n_docs, dtype=np.int64)
    _write(pd.DataFrame({
        "doc_id": doc_id, "text": texts, "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    manifest = {"seed": seed, "docs": n_docs, "planted": {
        "exact_duplicates": int(n_exact), "near_duplicates": int(n_near),
        "containment_pairs": int(n_contain), "contaminated": int(n_contam)},
        "distinct_normalized": len({normalize(t) for t in texts})}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest
