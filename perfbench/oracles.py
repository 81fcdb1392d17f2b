"""Expected outputs, computed once per input set with DuckDB.

The interleaved-table checks follow the SQL shape of the
``validate_interleaved`` / ``interleaved_suite`` oracles in
``__spark_entry__.oracle_sql()``, over the benchmark's own parquet.
The text-curation checks run the repo's own oracle SQL for each call
over a ``documents`` view of the generated corpus; two of those
oracles are all-pairs and too slow to run per seed, so
:data:`FAST_SQL` restates them with an inverted index (same
arithmetic, same rows; ``test_perfbench.py`` pins the equality).

Results are plain JSON, cached next to the inputs as
``expected.json``.
"""

from __future__ import annotations

import json
import os

UUID_RE = (
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)

# per-verdict counts (validate_interleaved) and the three suite counts
# (interleaved_suite), with the media dimension read from its parquet
INTERLEAVED_SQL = {
    "verdicts": f"""
        WITH v AS (
          SELECT (CASE WHEN NOT (length(doc_id) > 0) THEN 1 ELSE 0 END)
               + (CASE WHEN NOT (len(spans) >= 1) THEN 1 ELSE 0 END)
               + (CASE WHEN NOT (len(spans) <= 10) THEN 1 ELSE 0 END)
               + len(list_filter(spans,
                     s -> s.kind NOT IN ('text', 'media')))
               + len(list_filter(spans, s -> s.text IS NOT NULL
                     AND NOT (length(s.text) >= 1)))
               + len(list_filter(spans, s -> s.media_ref IS NOT NULL
                     AND NOT regexp_matches(s.media_ref, '{UUID_RE}')))
               + len(list_filter(spans, s -> NOT (s.offset >= 0)))
               AS nv
          FROM docs)
        SELECT CASE WHEN nv > 0 THEN 'ValidationError' ELSE 'Valid' END,
               CAST(count(*) AS BIGINT), CAST(sum(nv) AS BIGINT)
        FROM v GROUP BY 1 ORDER BY 1
    """,
    "n_dup_keys": """
        SELECT count(*) FROM (
          SELECT doc_id FROM docs GROUP BY doc_id HAVING count(*) > 1)
    """,
    "n_dangling": """
        SELECT count(*) FROM (SELECT unnest(spans) AS s FROM docs)
        WHERE s.media_ref IS NOT NULL
          AND s.media_ref NOT IN (SELECT media_ref FROM media)
    """,
    "n_non_monotonic": """
        SELECT count(*) FROM docs
        WHERE len(spans) >= 2 AND len(list_filter(
              generate_series(1, len(spans) - 1),
              i -> spans[i+1].offset <= spans[i].offset)) > 0
    """,
}

_NORM = r"""trim(regexp_replace(regexp_replace(lower(text),
            '[^\w\s]', '', 'g'), '\s+', ' ', 'g'))"""

FAST_SQL = {
    # minhash_near_dups_documents: exact Jaccard over the pairs that
    # share at least one shingle (every pair with Jaccard > 0)
    "minhash_near_dups_documents": rf"""
        WITH tk AS (
          SELECT doc_id, regexp_split_to_array({_NORM}, ' ') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(
                   CASE WHEN len(toks) < 3
                        THEN [array_to_string(toks, ' ')]
                        ELSE [array_to_string(toks[i:i+2], ' ')
                              for i in generate_series(1, len(toks)-2)]
                   END) AS sh
          FROM tk),
        ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
        pr AS (
          SELECT a.doc_id, b.doc_id, count(*) AS k,
                 any_value(a.n) + any_value(b.n) - count(*) AS u
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        p AS (SELECT CAST(k AS DOUBLE) / greatest(u, 1) AS jaccard
              FROM pr)
        SELECT round(jaccard, 1) AS jaccard_bucket,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM p WHERE jaccard >= 0.6 GROUP BY 1
    """,
    # shared_passages_documents: the 15-hex md5 prefix read as one
    # BIGINT instead of digit by digit
    "shared_passages_documents": rf"""
        WITH n AS (
          SELECT doc_id, coalesce({_NORM}, '') AS norm FROM documents),
        kh AS (
          SELECT doc_id, [
              CAST('0x' || substring(md5(substring(norm, i, 16)), 1, 15)
                   AS BIGINT)
              for i in generate_series(1, greatest(length(norm) - 15, 0))
            ] AS kh
          FROM n),
        fp AS (
          SELECT doc_id,
            CASE
              WHEN len(kh) >= 8 THEN list_distinct([
                list_min(kh[j:j+7])
                for j in generate_series(1, len(kh) - 7)])
              WHEN len(kh) > 0 THEN [list_min(kh)]
              ELSE [] END AS fps
          FROM kh),
        ex AS (SELECT doc_id, unnest(fps) AS fpv FROM fp),
        kept AS (
          SELECT doc_id, fpv FROM ex
          QUALIFY count(*) OVER (PARTITION BY fpv) <= 100)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM kept a JOIN kept b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 3
    """,
}

# repo oracle keys used as they are, one per curate_text output
REPO_KEYS = (
    "simhash_documents",
    "contamination_src0",
    "exact_dup_groups_documents",
    "curation_funnel_documents",
    "lang_pred_documents",
    "media_features",
    "media_resize_frames",
)


def _connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 4")
    return con


def _rows(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {"columns": cols, "rows": [list(r) for r in cur.fetchall()]}


def interleaved_expected(path: str) -> dict:
    con = _connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM "
                f"read_parquet('{path}/docs/*.parquet')")
    con.execute(f"CREATE VIEW media AS SELECT * FROM "
                f"read_parquet('{path}/media/*.parquet')")
    out = {k: con.execute(v).fetchall() for k, v in INTERLEAVED_SQL.items()}
    verdicts = {v: n for v, n, _ in out["verdicts"]}
    return {
        "n_docs": sum(verdicts.values()),
        "verdicts": verdicts,
        "n_violations": sum(nv for _, _, nv in out["verdicts"]),
        "n_dup_keys": out["n_dup_keys"][0][0],
        "n_dangling": out["n_dangling"][0][0],
        "n_non_monotonic": out["n_non_monotonic"][0][0],
    }


def documents_expected(path: str) -> dict:
    from __spark_entry__ import oracle_sql

    repo = oracle_sql()
    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}/documents/*.parquet')")
    out = {k: _rows(con, sql) for k, sql in FAST_SQL.items()}
    out.update({k: _rows(con, repo[k]) for k in REPO_KEYS})
    out["n_docs"] = con.execute(
        "SELECT count(*) FROM documents").fetchone()[0]
    return out


def cached(path: str, compute) -> dict:
    """``compute(path)``, memoised as ``<path>/expected.json``."""
    f = f"{path}/expected.json"
    if os.path.exists(f):
        with open(f) as fh:
            return json.load(fh)
    exp = compute(path)
    tmp = f"{f}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(exp, fh)
    os.replace(tmp, f)
    return exp
