"""Independent DuckDB checks of a run's final state.

Each check reads the generated inputs and the files the engine wrote,
recomputes the expected state in DuckDB, and returns a list of
(name, ok, detail) plus measured properties of the inputs.
"""
import hashlib
import re

import duckdb

KEYS = ["Branch_ID", "Dealer_ID", "Model_ID", "Date_ID"]
DIMS = {
    "cars_catalog.gold.dim_model": (["Model_ID"], ["model_category"], "dim_model_key"),
    "cars_catalog.gold.dim_branch": (["Branch_ID"], ["BranchName"], "dim_branch_key"),
    "cars_catalog.gold.dim_dealer": (["Dealer_ID"], ["DealerName"], "dim_dealer_key"),
    "cars_catalog.gold.dim_date": (["Date_ID"], [], "dim_date_key"),
}
FACT = "cars_catalog.gold.factsales"


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def _csv(path):
    return (f"(SELECT Branch_ID, Dealer_ID, Model_ID, Date_ID, "
            f"CAST(Revenue AS BIGINT) AS Revenue, "
            f"CAST(Units_Sold AS BIGINT) AS Units_Sold, "
            f"BranchName, DealerName, split_part(Model_ID, '-', 1) AS model_category "
            f"FROM read_csv('{path}', header = true, all_varchar = true, "
            f"quote = '\"', escape = '\"'))")


def _same(con, got, exp):
    """Multiset equality of two queries with the same columns."""
    n = con.execute(
        f"SELECT (SELECT count(*) FROM (({got}) EXCEPT ALL ({exp}))) + "
        f"(SELECT count(*) FROM (({exp}) EXCEPT ALL ({got})))").fetchone()[0]
    return n == 0, f"{n} rows differ"


def check_sales(con, spec):
    out, props = [], {}
    csvs = spec["csv"]
    con.execute(f"CREATE OR REPLACE TABLE f AS SELECT * FROM {_csv(csvs[0])}")
    matched = novel = 0
    for path in csvs[1:]:
        con.execute(f"CREATE OR REPLACE TABLE d AS SELECT * FROM {_csv(path)}")
        on = " AND ".join(f"t.{k} = d.{k}" for k in KEYS)
        matched += con.execute(
            f"SELECT count(*) FROM d WHERE EXISTS (SELECT 1 FROM f t WHERE {on})").fetchone()[0]
        novel += con.execute(
            f"SELECT count(*) FROM d WHERE NOT EXISTS (SELECT 1 FROM f t WHERE {on})").fetchone()[0]
        # MERGE: untouched target rows, one source copy per matched
        # target row, and unmatched source rows
        con.execute(f"""CREATE OR REPLACE TABLE f AS
            SELECT * FROM f t WHERE NOT EXISTS (SELECT 1 FROM d WHERE {on})
            UNION ALL SELECT d.* FROM f t JOIN d ON {on}
            UNION ALL SELECT * FROM d WHERE NOT EXISTS (SELECT 1 FROM f t WHERE {on})""")
    props["delta_rows_matched"] = matched
    props["delta_rows_novel"] = novel
    union = " UNION ALL ".join(f"SELECT * FROM {_csv(p)}" for p in csvs)
    tables = spec["tables"]
    for name, (nat, attrs, key) in DIMS.items():
        dim = _pq(tables[name])
        cols = ", ".join(nat + attrs)
        ok, detail = _same(con, f"SELECT {cols} FROM {dim}",
                           f"SELECT DISTINCT {cols} FROM ({union})")
        out.append((f"{name} content", ok, detail))
        n, nk, nn = con.execute(
            f"SELECT count(*), count(DISTINCT {key}), count({key}) FROM {dim}").fetchone()
        out.append((f"{name} unique surrogate keys", n == nk == nn,
                    f"{n} rows, {nk} distinct keys, {nn} non-null"))
    joined = f"{_pq(tables[FACT])} f"
    for i, (name, (_, _, key)) in enumerate(DIMS.items()):
        joined += f" JOIN {_pq(tables[name])} d{i} USING ({key})"
    ok, detail = _same(
        con,
        f"SELECT {', '.join(KEYS)}, Revenue, Units_Sold, round(Rev_Per_Unit, 6) "
        f"FROM {joined}",
        f"SELECT {', '.join(KEYS)}, Revenue, Units_Sold, "
        f"round(Revenue / Units_Sold, 6) FROM f")
    out.append(("fact content by natural keys", ok, detail))
    props["fact_rows"] = con.execute("SELECT count(*) FROM f").fetchone()[0]
    return out, props


def _rows(con, sql):
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


# the curation chain's definitions (TextFunctions, NativeExpressions
# .textProfile, Dedup, DatasetSplit), re-derived in Python
WS = re.compile(r"[ \t\n\x0b\f\r]+")
PUNCT = re.compile(r"[^A-Za-z0-9 \t\n\x0b\f\r]")
ENTITIES = (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&amp;", "&"))
STOPWORDS = {
    "en": ["the", "a", "an", "of", "and", "to", "in", "is", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit"],
    "es": ["el", "la", "los", "las", "de", "y", "es", "un", "una", "que"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "que", "dans"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}
MIX_RATES, MIX_DEFAULT = {"en": 192, "und": 64}, 128


def _clean(text):
    t = re.sub(r"<[^>]*>", " ", text)
    for e, r in ENTITIES:
        t = t.replace(e, r)
    return WS.sub(" ", t).strip(" ")


def _tokens(text):
    return [w for w in WS.split(text.lower().strip(" ")) if w]


def _quality_micros(text, toks):
    len_m = min(len(text) * 2000, 1000000)
    punct_m = 1000000 - min(len(PUNCT.findall(text)) * 5000000 // max(len(text), 1), 1000000)
    en = sum(1 for t in toks if t in STOPWORDS["en"])
    sw_m = min(en * 5000000 // max(len(toks), 1), 1000000)
    return (len_m * 4 + punct_m * 3 + sw_m * 3) // 10


def _lang(toks):
    hits = {l: sum(1 for t in toks if t in ws) for l, ws in STOPWORDS.items()}
    best = max(hits.values())
    return next(l for l in STOPWORDS if hits[l] == best) if best > 0 else "und"


def _bucket(text):
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:2], 16)


def _shingles(toks):
    if len(toks) <= 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


M64 = (1 << 64) - 1
X1, X2, X3, X4, X5 = (11400714785074694791, 14029467366897019727,
                      1609587929392839161, 9650029242287828579, 2870177450012600261)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _xround(acc, lane):
    return (_rotl((acc + lane * X2) & M64, 31) * X1) & M64


def xxh64(data, seed=42):
    """XXH64 as Spark's xxhash64 computes it (signed result)."""
    n, i = len(data), 0
    lane = lambda j, w: int.from_bytes(data[j:j + w], "little")
    if n >= 32:
        v = [(seed + X1 + X2) & M64, (seed + X2) & M64, seed, (seed - X1) & M64]
        while i + 32 <= n:
            v = [_xround(v[j], lane(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for x in v:
            h = ((h ^ _xround(0, x)) * X1 + X4) & M64
    else:
        h = (seed + X5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h = (_rotl(h ^ _xround(0, lane(i, 8)), 27) * X1 + X4) & M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((lane(i, 4) * X1) & M64), 23) * X2 + X3) & M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * X5) & M64), 11) * X1) & M64
        i += 1
    h ^= h >> 33
    h = (h * X2) & M64
    h ^= h >> 29
    h = (h * X3) & M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _shingle_hashes(shingles):
    """The engine's shingle keys: xxhash64 (seed 42) mod 1e9+7."""
    return {xxh64(sh.encode("utf-8")) % 1000000007 for sh in shingles}


def curate_expected(docs):
    """(doc_id, lang, n_tokens, split) of every document the chain keeps:
    clean, quality >= 0.4, exact dedup (lowest id wins), hold out ids
    divisible by 97 and drop corpus docs sharing a 3-token shingle
    with them, mix by language, split by content bucket. Also returns
    the holdout shingles, the cleaned texts by id and the shares of
    documents each filter met."""
    cleaned = [(i, _clean(t)) for i, t in docs]
    passed, n_quality = {}, 0
    for i, t in cleaned:
        if _quality_micros(t, _tokens(t)) >= 400000:
            n_quality += 1
            if t not in passed or i < passed[t]:
                passed[t] = i
    bench = set()
    for i, t in cleaned:
        if i % 97 == 0:
            bench |= _shingles(_tokens(t))
    out, n_corpus, n_contaminated = [], 0, 0
    for t, i in passed.items():
        toks = _tokens(t)
        if i % 97 == 0:
            continue
        n_corpus += 1
        if _shingles(toks) & bench:
            n_contaminated += 1
            continue
        lang = _lang(toks)
        if _bucket("mix:" + t) >= MIX_RATES.get(lang, MIX_DEFAULT):
            continue
        b = _bucket(t)
        out.append((i, lang, len(toks), "train" if b < 205 else "val" if b < 230 else "test"))
    shares = {"quality_kept_share": n_quality / max(len(docs), 1),
              "exact_dup_share": 1 - len(passed) / max(n_quality, 1),
              "contaminated_share": n_contaminated / max(n_corpus, 1)}
    return sorted(out), bench, dict(cleaned), shares


def check_curate(con, spec):
    out = []
    docs = con.execute(f"SELECT doc_id, text FROM {_pq(spec['corpus'])}").fetchall()
    exp, bench, cleaned, shares = curate_expected(docs)
    got = _rows(con, f"SELECT doc_id, lang, nt, split FROM {_pq(spec['curated'])}")
    # a document the engine alone dropped is accepted only when one of
    # its shingle keys collides with a holdout shingle key (the engine's
    # decontamination compares 30-bit keys, not shingle strings)
    missing = sorted(set(exp) - set(got))
    bench_keys = _shingle_hashes(bench) if missing else set()
    collided = [r for r in missing
                if _shingle_hashes(_shingles(_tokens(cleaned[r[0]]))) & bench_keys]
    bad = len(set(got) - set(exp)) + len(missing) - len(collided)
    out.append(("curated docs with language, tokens and split", bad == 0,
                f"{bad} of {len(exp)} rows differ"))
    # tokenize + pack: the engine's own DuckDB replay over the curated docs
    con.execute(f"CREATE OR REPLACE VIEW documents AS "
                f"SELECT doc_id, text FROM {_pq(spec['curated'])}")
    exp = _rows(con, spec["sql_pack"])
    got = _rows(con, f"SELECT doc_id, bucket, n_pieces, start_offset, seq_id "
                     f"FROM {_pq(spec['packed'])}")
    diff = len(set(got) ^ set(exp))
    out.append(("tokenize + pack offsets", got == exp, f"{diff} of {len(exp)} rows differ"))
    return out, {"curated_docs": len(got), "curated_share": len(got) / max(len(docs), 1),
                 "decontam_key_collisions": len(collided), **shares}


def check_vector(con, spec):
    out, props = [], {}
    k = spec["k"]
    con.execute(f"CREATE OR REPLACE TABLE live AS "
                f"SELECT vec_id, embedding FROM {_pq(spec['base'])}")
    for path in spec["epochs"]:
        con.execute(f"CREATE OR REPLACE TABLE e AS SELECT * FROM {_pq(path)}")
        n0 = con.execute("SELECT count(*) FROM live").fetchone()[0]
        for op, name in (("U", "updated"), ("D", "deleted"), ("I", "inserted")):
            n = con.execute(f"SELECT count(*) FROM e WHERE op = '{op}'").fetchone()[0]
            props[f"epoch_{name}_share"] = n / max(n0, 1)
        con.execute("""CREATE OR REPLACE TABLE live AS
            SELECT * FROM live WHERE vec_id NOT IN (SELECT vec_id FROM e)
            UNION ALL SELECT vec_id, embedding FROM e WHERE op <> 'D'""")
    n_live = con.execute("SELECT count(*) FROM live").fetchone()[0]
    for idx in ("ivf", "hnsw"):
        n = spec[f"{idx}_rows"]
        out.append((f"{idx} row count", n == n_live, f"{n} vs {n_live} live"))
    con.execute(f"""CREATE OR REPLACE TABLE bf AS
        SELECT q.vec_id AS q_id, l.vec_id AS n_id,
               list_cosine_similarity(
                 CAST(q.embedding AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) AS cos,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(l.embedding AS DOUBLE[])) DESC, l.vec_id) AS rnk
        FROM {_pq(spec['queries'])} q, live l""")
    # the k-th best exact score per query: a valid top-k holds only ids
    # scoring at least that (ties within float noise allowed)
    con.execute(f"CREATE OR REPLACE TABLE kth AS "
                f"SELECT q_id, min(cos) AS t FROM bf WHERE rnk <= {k} GROUP BY 1")
    for label, path in (("full probe", spec["full"]), ("ann", spec["ann"])):
        con.execute(f"CREATE OR REPLACE TABLE r AS SELECT * FROM {_pq(path)}")
        bad_id, bad_cos = con.execute("""SELECT
              count(*) FILTER (WHERE b.n_id IS NULL),
              count(*) FILTER (WHERE abs(b.cos - r.cosine) > 1e-5)
            FROM r LEFT JOIN bf b USING (q_id, n_id)""").fetchone()
        out.append((f"{label}: every hit is a live vector with its latest score",
                    bad_id == 0 and bad_cos == 0,
                    f"{bad_id} unknown or deleted ids, {bad_cos} stale scores"))
        if label == "full probe":
            short, below = con.execute(f"""SELECT
                  (SELECT count(*) FROM (SELECT engine, q_id, count(*) AS c,
                     count(DISTINCT n_id) AS d FROM r GROUP BY 1, 2)
                   WHERE c <> {k} OR d <> {k}),
                  (SELECT count(*) FROM r JOIN bf b USING (q_id, n_id)
                     JOIN kth USING (q_id) WHERE b.cos < kth.t - 1e-6)""").fetchone()
            n_q = con.execute("SELECT count(DISTINCT q_id) FROM r").fetchone()[0]
            out.append(("full probe equals brute force over the latest snapshot",
                        short == 0 and below == 0 and n_q > 0,
                        f"{short} short lists, {below} hits outside the exact top-{k}"))
        else:
            for idx, rec in con.execute(f"""SELECT engine,
                    count(b.n_id) / count(*) FROM r LEFT JOIN bf b
                    ON b.q_id = r.q_id AND b.n_id = r.n_id AND b.rnk <= {k}
                    GROUP BY 1""").fetchall():
                props[f"{idx}_recall_at_{k}"] = rec
    props["live_vectors"] = n_live
    return out, props


def run_checks(specs):
    """All checks of all pipelines a run produced."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    results, props = [], {}
    for spec in specs:
        fn = {"sales": check_sales, "curate": check_curate,
              "vector": check_vector}[spec["kind"]]
        try:
            out, p = fn(con, spec)
        except Exception as e:  # a check that cannot run has failed
            out, p = [(f"{spec['kind']} check", False, repr(e))], {}
        results += [(f"{spec['kind']}: {n}", ok, d) for n, ok, d in out]
        props.update(p)
    con.close()
    return results, props
