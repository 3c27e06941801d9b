"""Output checks of the benchmark, run after the timed loop.

Every reference is computed by DuckDB from the generated parquet inputs;
none of them calls graft. Each check returns a list of failure messages
per operation index (key None = every operation of the run)."""

import os

import duckdb


def connect(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET threads = 4")
    return con


def pq(d):
    return f"read_parquet('{d}/*.parquet')"


def diff_tables(con, a, b):
    """Rows of a not in b plus rows of b not in a (bag semantics)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) + "
        f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))").fetchone()[0]


# ---- lakehouse_etl ---------------------------------------------------------

def check_etl(con, rec):
    c = rec["check"]
    inputs = os.path.join(c["dir"], "inputs")
    out = os.path.join(rec["_work"], "out")
    n = c["batches"]
    parts = [f"SELECT *, -1 AS _b FROM {pq(os.path.join(inputs, 'initial'))}"]
    for b in range(n):
        parts.append(f"SELECT *, {b} AS _b FROM "
                     f"{pq(os.path.join(inputs, f'batch_{b:04d}'))} "
                     "WHERE o_custkey >= 0")
    erased = " UNION ALL ".join(
        f"SELECT o_orderkey FROM {pq(os.path.join(inputs, f'erase_{b:04d}'))}"
        for b in range(n))
    con.execute(f"""CREATE OR REPLACE TEMP VIEW ref AS
        SELECT * EXCLUDE (_b) FROM ({' UNION ALL '.join(parts)})
        WHERE o_orderkey NOT IN ({erased})
        QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY _b DESC) = 1
        """)
    cols = [r[0] for r in con.execute("DESCRIBE ref").fetchall()]
    sel = ", ".join(cols)
    fails = []
    bad = diff_tables(con, f"SELECT {sel} FROM ref",
                      f"SELECT {sel} FROM {pq(os.path.join(out, 'silver'))}")
    if bad:
        fails.append(f"silver differs from the last-writer-wins fold "
                     f"in {bad} rows")
    live = con.execute("SELECT count(*) FROM ref").fetchone()[0]
    clean = con.execute(f"SELECT count(*) FROM ({' UNION ALL '.join(parts)})"
                        ).fetchone()[0]
    if c["scd2_rows"] != clean or c["scd2_current"] != live:
        fails.append(f"scd2 rows/current {c['scd2_rows']}/{c['scd2_current']}"
                     f" != reference {clean}/{live}")
    bad = diff_tables(
        con,
        "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s "
        "FROM ref GROUP BY 1",
        "SELECT o_orderpriority, n_rows, sum_o_totalprice FROM "
        f"{pq(os.path.join(out, 'gold'))} WHERE n_rows > 0")
    if bad:
        fails.append(f"gold aggregate differs in {bad} rows")
    return {None: fails} if fails else {}


# ---- llm_curation ----------------------------------------------------------

MINHASH_K, BANDS, MAX_BUCKET = 16, 4, 1000


def minhash_pairs_sql(docs, tau):
    rows = MINHASH_K // BANDS
    sig = ",\n".join(f"min(substr(md5('{k}:' || s), 1, 16)) AS h{k}"
                     for k in range(MINHASH_K))
    bands = ",\n".join(
        "md5(" + " || ".join(f"h{b * rows + r}" for r in range(rows))
        + f") AS band{b}" for b in range(BANDS))
    exploded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS bh FROM banded"
        for b in range(BANDS))
    return f"""
      WITH words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM {docs}),
      sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM words, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      sig AS (SELECT doc_id, {sig} FROM sh GROUP BY doc_id),
      banded AS (SELECT doc_id, {bands} FROM sig),
      exploded AS ({exploded}),
      capped AS (SELECT * FROM exploded
                 QUALIFY count(*) OVER (PARTITION BY band, bh) <= {MAX_BUCKET}),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a JOIN capped b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sa.s = sb.s
        GROUP BY 1, 2)
      SELECT i.id_a, i.id_b,
        CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) AS jaccard
      FROM inter i JOIN sizes za ON za.doc_id = i.id_a
      JOIN sizes zb ON zb.doc_id = i.id_b
      WHERE CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) >= {tau}"""


def components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def bm25_sql(docs, terms, k):
    k1, b = 1.2, 0.75
    tf = ",\n".join(f"CAST(len(list_filter(w, x -> x = '{t}')) AS DOUBLE) "
                    f"AS tf_{i}" for i, t in enumerate(terms))
    df = ",\n".join(f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) "
                    f"AS DOUBLE) AS df_{i}" for i in range(len(terms)))
    score = " + ".join(
        f"(ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) "
        f"* (tf_{i} * ({k1} + 1.0)) / (tf_{i} + {k1} * "
        f"(CAST(1.0 - {b} AS DOUBLE) + {b} * dl / avgdl)))"
        for i in range(len(terms)))
    return f"""
      WITH base AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM {docs}),
      withtf AS (
        SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, {tf} FROM base),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
             {df} FROM withtf),
      scored AS (SELECT doc_id, round({score}, 6) AS score
                 FROM withtf, st)
      SELECT doc_id, score FROM scored WHERE score > 0
      ORDER BY score DESC, doc_id ASC LIMIT {k}"""


# the Gopher rule family with TextOps.gopherFilter's default thresholds
GOPHER_SQL = """
  WITH base AS (
    SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS toks
    FROM {docs}),
  uni AS (
    SELECT doc_id, sum(tf) AS n_tokens, count(*) AS n_distinct,
      max(tf) AS top_tf
    FROM (SELECT doc_id, t, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS t FROM base)
          WHERE t <> '' GROUP BY 1, 2)
    GROUP BY 1),
  bi AS (
    SELECT doc_id, sum(bf) AS n_bigrams, max(bf) AS top_bf
    FROM (SELECT doc_id, b, count(*) AS bf
          FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS b
                FROM base WHERE len(toks) >= 2)
          GROUP BY 1, 2)
    GROUP BY 1),
  awl AS (
    SELECT doc_id, CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      AS DOUBLE) / len(toks) AS avg_word_len FROM base)
  SELECT u.doc_id FROM uni u JOIN awl USING (doc_id) LEFT JOIN bi USING (doc_id)
  WHERE n_tokens BETWEEN 30 AND 50000
    AND avg_word_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
    AND CAST(n_distinct AS DOUBLE) / n_tokens >= CAST(0.2 AS DOUBLE)
    AND CAST(top_tf AS DOUBLE) / n_tokens <= CAST(0.2 AS DOUBLE)
    AND CAST(coalesce(top_bf, 0) AS DOUBLE)
        / greatest(coalesce(n_bigrams, 0), 1) <= CAST(0.2 AS DOUBLE)"""

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

# TextOps.qualityScore: four banded indicators, weighted and summed
# left to right in doubles
QUALITY_SQL = """
  WITH base AS (
    SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS toks
    FROM {docs}),
  f AS (
    SELECT doc_id, length(text) AS char_len,
      CAST(len(list_filter(toks, t -> t IN {stop})) AS DOUBLE) / len(toks)
        AS stop_ratio,
      CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
        / length(text) AS punct_ratio,
      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        / len(toks) AS avg_word_len
    FROM base),
  s AS (
    SELECT doc_id,
      CASE WHEN char_len BETWEEN 100 AND 5000 THEN 1 ELSE 0 END
        * CAST(0.3 AS DOUBLE)
      + CASE WHEN punct_ratio <= CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END
        * CAST(0.2 AS DOUBLE)
      + CASE WHEN stop_ratio BETWEEN CAST(0.02 AS DOUBLE)
             AND CAST(0.6 AS DOUBLE) THEN 1 ELSE 0 END * CAST(0.3 AS DOUBLE)
      + CASE WHEN avg_word_len BETWEEN CAST(3.0 AS DOUBLE)
             AND CAST(8.0 AS DOUBLE) THEN 1 ELSE 0 END * CAST(0.2 AS DOUBLE)
        AS quality_score
    FROM f)
  SELECT doc_id, quality_score,
    CASE WHEN quality_score >= CAST(0.8 AS DOUBLE) THEN 'high'
         WHEN quality_score >= CAST(0.5 AS DOUBLE) THEN 'medium'
         ELSE 'low' END AS quality_band
  FROM s"""


def check_curation(con, rec):
    c = rec["check"]
    corpus = pq(c["corpus"])
    exact_ref = {r[0]: (r[1], r[2]) for r in con.execute(
        "SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), "
        f"count(*), min(doc_id) FROM {corpus} GROUP BY 1").fetchall()}
    removed = sum(n - 1 for n, _ in exact_ref.values())
    con.execute("CREATE OR REPLACE TEMP TABLE keepers AS SELECT d.* FROM "
                f"{corpus} d WHERE doc_id IN (SELECT min(doc_id) FROM {corpus} "
                "GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', "
                "'g'))))")
    pairs_ref = {(a, b): j for a, b, j in
                 con.execute(minhash_pairs_sql("keepers", c["tau"])).fetchall()}
    comp_ref = components(pairs_ref)
    # the reference chain after dedup: one keeper per cluster, then the
    # quality score, the Gopher filter and BM25 on what the filter keeps
    dropped = [x for x, r in comp_ref.items() if x != r]
    con.execute("CREATE OR REPLACE TEMP TABLE deduped AS SELECT * FROM "
                "keepers WHERE doc_id NOT IN (SELECT unnest(?::BIGINT[]))",
                [dropped])
    kept_ref = con.execute("SELECT count(*) FROM deduped").fetchone()[0]
    quality_ref = {r[0]: (r[1], r[2]) for r in con.execute(
        QUALITY_SQL.format(docs="deduped", stop=str(STOPWORDS))).fetchall()}
    con.execute("CREATE OR REPLACE TEMP TABLE filtered AS SELECT * FROM "
                "deduped WHERE doc_id IN (" + GOPHER_SQL.format(docs="deduped")
                + ")")
    filtered_ref = {r[0] for r in con.execute(
        "SELECT doc_id FROM filtered").fetchall()}
    bm25_ref = [con.execute(bm25_sql("filtered", terms, c["top_k"])).fetchall()
                for terms in c["queries"]]
    boiler = set(c["boilerplate_ids"])
    fails = {}
    for i, d in enumerate(c["passes"]):
        f = []
        if removed != c["exact_copies"]:
            f.append(f"exact dedup reference removes {removed} docs, "
                     f"planted {c['exact_copies']}")
        if boiler & filtered_ref:
            f.append(f"the reference filter keeps {len(boiler & filtered_ref)}"
                     " planted boilerplate pages")
        got = {r[0]: (r[1], r[2]) for r in con.execute(
            f"SELECT content_hash, n_docs, keeper_id FROM "
            f"{pq(os.path.join(d, 'exact'))}").fetchall()}
        if got != exact_ref:
            f.append("exact dedup groups differ from the reference")
        got = {(a, b): j for a, b, j in con.execute(
            f"SELECT id_a, id_b, jaccard FROM {pq(os.path.join(d, 'pairs'))}"
        ).fetchall()}
        if got.keys() != pairs_ref.keys() or any(
                abs(got[p] - pairs_ref[p]) > 1e-12 for p in got):
            f.append(f"near-dup pairs: {len(got)} vs reference "
                     f"{len(pairs_ref)}")
        got = dict(con.execute(
            f"SELECT node, component FROM "
            f"{pq(os.path.join(d, 'components'))}").fetchall())
        if got != comp_ref:
            f.append("near-dup clusters differ from the reference")
        kept = con.execute(f"SELECT count(*) FROM "
                           f"{pq(os.path.join(d, 'deduped'))}").fetchone()[0]
        if kept != kept_ref:
            f.append(f"kept {kept} docs, reference {kept_ref}")
        got = {r[0]: (r[1], r[2]) for r in con.execute(
            "SELECT doc_id, quality_score, quality_band FROM "
            f"{pq(os.path.join(d, 'quality'))}").fetchall()}
        if got.keys() != quality_ref.keys() or any(
                abs(got[x][0] - quality_ref[x][0]) > 1e-12
                or got[x][1] != quality_ref[x][1] for x in got):
            f.append("quality scores differ from the reference")
        got = {r[0] for r in con.execute(
            f"SELECT doc_id FROM {pq(os.path.join(d, 'filtered'))}"
        ).fetchall()}
        if got != filtered_ref:
            f.append(f"Gopher filter keeps {len(got)} docs, reference "
                     f"{len(filtered_ref)} ({len(got - filtered_ref)} extra,"
                     f" {len(filtered_ref - got)} missing)")
        if boiler & got:
            f.append(f"{len(boiler & got)} planted boilerplate pages kept")
        for qi, want in enumerate(bm25_ref):
            got = con.execute(
                f"SELECT doc_id, score FROM {pq(os.path.join(d, 'bm25'))} "
                f"WHERE query = {qi} ORDER BY rank").fetchall()
            if [w[0] for w in want] != [g[0] for g in got] or any(
                    abs(w[1] - g[1]) > 2e-6 for w, g in zip(want, got)):
                f.append(f"bm25 query {qi}: {got[:3]} vs {want[:3]}")
        if f:
            fails[c["pass_ops"][i]] = f
    return fails


CHECKS = {"lakehouse_etl": check_etl, "llm_curation": check_curation}


def run(rec, work):
    con = connect(work)
    try:
        return CHECKS[rec["workload"]](con, rec)
    finally:
        con.close()
