"""DuckDB twins of the benchmarked operations, computed over the same
generated parquet files the Spark side reads.

* ``transcripts_report`` — the RunReport counts of ``ValidationRun``
  over TURN_SCHEMA (the rule SQL mirrors the compiled projection
  branch-for-branch, as ``__spark_entry__._TRANSCRIPTS_VIOLATIONS_SQL``
  does);
* ``pack`` — ``operators.pipeline.pack_sequences``: rn and token counts
  in SQL under the grammar's total order, then the greedy walk of the
  recursive CTE in ``__spark_entry__._PACK_SQL`` replayed in Python;
* ``cross_pairs`` — ``functions.dedup.cross_dup_pairs_stored``: the
  exact bipartite shingle Jaccard of ``_CROSS_DEDUP_SQL``, evaluated
  through a shingle join instead of a cross product (pairs sharing no
  shingle have Jaccard 0 and fall below any positive threshold).
"""

from __future__ import annotations

import tempfile

import duckdb
import numpy as np

# TURN_SCHEMA (sources/transcripts.py): one predicate per compiled rule
_RULES = [
    "conv_id IS NULL",
    "conv_id IS NOT NULL AND length(conv_id) = 0",
    "conv_id IS NOT NULL AND length(conv_id) > 0 AND NOT "
    "regexp_matches(conv_id, '^(?:c-[0-9a-f]{12}$)')",
    "turn_idx IS NULL",
    "turn_idx IS NOT NULL AND turn_idx < 0",
    "turn_idx IS NOT NULL AND turn_idx > 100000",
    "role IS NULL",
    "role IS NOT NULL AND role NOT IN ('system','user','assistant','tool')",
    "text IS NULL",
    "text IS NOT NULL AND length(text) > 100000",
    "tool IS NOT NULL AND (role IS NULL OR role NOT IN ('assistant','tool'))",
    "ts IS NULL",
]
_N_VIOL = " + ".join(f"CASE WHEN {r} THEN 1 ELSE 0 END" for r in _RULES)


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def rule_violations(paths: list[str]) -> int:
    """Rule-violation rows over the union of ``paths``."""
    with _con() as con:
        return con.execute(
            f"SELECT coalesce(sum({_N_VIOL}), 0) FROM read_parquet(?)",
            [paths]).fetchone()[0]


def transcripts_report(transcripts: str, conversations: str) -> dict:
    """Expected RunReport counts.  ``n_ordering`` is a (low, high) range:
    ``ordering_violations`` orders by turn_idx alone, and duplicate
    turn_idx rows tie, so the count is defined only up to the order of
    ties.  The bounds take every tie group in ts-ascending, then in
    ts-descending order."""
    with _con() as con:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{transcripts}')")
        con.execute(f"CREATE VIEW c AS SELECT * FROM read_parquet('{conversations}')")
        n_turns, n_failed, n_rule = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE n > 0), "
            f"coalesce(sum(n), 0) FROM (SELECT {_N_VIOL} AS n FROM t)"
        ).fetchone()
        n_unique = con.execute("""
            SELECT count(*) FROM t JOIN (
              SELECT conv_id, turn_idx FROM t GROUP BY ALL HAVING count(*) > 1
            ) d USING (conv_id, turn_idx)""").fetchone()[0]
        n_orphan = con.execute(
            "SELECT count(*) FROM t ANTI JOIN c USING (conv_id)"
        ).fetchone()[0]
        ordering = []
        for tie in ("ASC", "DESC"):
            ordering.append(con.execute(f"""
                SELECT count(*) FROM (
                  SELECT ts, lag(ts) OVER (PARTITION BY conv_id
                                           ORDER BY turn_idx, ts {tie}) AS p
                  FROM t) WHERE p IS NOT NULL AND ts < p""").fetchone()[0])
    return {"n_turns": n_turns, "n_failed": n_failed,
            "n_rule_violations": n_rule, "n_unique_violations": n_unique,
            "n_orphan_violations": n_orphan,
            "n_ordering_violations": (min(ordering), max(ordering))}


def mismatches(counts: dict, expected: dict) -> list[str]:
    """The entries of ``counts`` (RunReport fields) that disagree with
    ``expected``."""
    bad = []
    for k, v in expected.items():
        got = counts[k]
        if isinstance(v, tuple):
            if not v[0] <= got <= v[1]:
                bad.append(f"{k}={got} not in [{v[0]}, {v[1]}]")
        elif got != v:
            bad.append(f"{k}={got} != {v}")
    return bad


#: whitespace tokens of lower(text), as functions.text.words/token_count
_WORDS = ("list_filter(string_split_regex(lower(trim(coalesce(text, ''))), "
          "'\\s+'), x -> length(x) > 0)")


def pack(transcripts: str, budget: int) -> "np.ndarray":
    """Expected pack output as a structured array sorted by (conv_id,
    rn): conv_id, rn, turn_idx, n_tok, pack_id."""
    with _con() as con:
        t = con.execute(f"""
            SELECT conv_id,
                   row_number() OVER (PARTITION BY conv_id
                       ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST,
                                role ASC NULLS FIRST, text ASC NULLS FIRST,
                                tool ASC NULLS FIRST)::INT AS rn,
                   turn_idx, len({_WORDS})::BIGINT AS n_tok
            FROM read_parquet('{transcripts}')
            ORDER BY conv_id, rn""").fetchnumpy()
    convs, toks = t["conv_id"], t["n_tok"]
    pack_id = np.empty(len(toks), dtype=np.int32)
    cur, acc, pid = None, 0, 0
    for i in range(len(toks)):
        if convs[i] != cur:
            cur, acc, pid = convs[i], 0, 0
        tok = int(toks[i])
        if acc > 0 and acc + tok > budget:
            pid, acc = pid + 1, tok
        else:
            acc += tok
        pack_id[i] = pid
    t["pack_id"] = pack_id
    return t


def pack_mismatches(expected: dict, got_parquet_dir: str) -> int:
    """Rows in the symmetric difference of the expected pack output and
    the parquet files Spark wrote."""
    import pandas as pd

    exp = pd.DataFrame({k: expected[k] for k in
                        ("conv_id", "rn", "turn_idx", "n_tok", "pack_id")})
    with _con() as con:
        con.register("exp", exp)
        return con.execute(f"""
            WITH got AS (
              SELECT conv_id, rn::INT AS rn, turn_idx, n_tok::BIGINT AS n_tok,
                     pack_id::INT AS pack_id
              FROM read_parquet('{got_parquet_dir}/*.parquet')),
            e AS (SELECT conv_id, rn::INT AS rn, turn_idx,
                         n_tok::BIGINT AS n_tok, pack_id::INT AS pack_id
                  FROM exp)
            SELECT (SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL
                                          SELECT * FROM got))
                 + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL
                                          SELECT * FROM e))""").fetchone()[0]


def cross_pairs(new: str, ref: str, threshold: float) -> set[tuple]:
    """{(id_new, id_ref, jaccard rounded to 6 places)}, jaccard >= threshold,
    over distinct word 3-shingles (texts under three words shingle to
    the whole text; empty texts never pair)."""
    shingles = """
        SELECT doc_id,
               CASE WHEN len(ws) >= 3
                    THEN list_distinct(list_transform(range(len(ws) - 2),
                         i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]))
                    ELSE [array_to_string(ws, ' ')] END AS s
        FROM (SELECT doc_id, {words} AS ws FROM read_parquet('{path}'))
        WHERE len(ws) > 0"""
    with _con() as con:
        rows = con.execute(f"""
            WITH n AS ({shingles.format(words=_WORDS, path=new)}),
                 r AS ({shingles.format(words=_WORDS, path=ref)}),
                 ne AS (SELECT doc_id, len(s) AS k, unnest(s) AS sh FROM n),
                 re AS (SELECT doc_id, len(s) AS k, unnest(s) AS sh FROM r),
                 shared AS (
                   SELECT ne.doc_id AS id_new, re.doc_id AS id_ref,
                          any_value(ne.k) AS kn, any_value(re.k) AS kr,
                          count(*) AS m
                   FROM ne JOIN re USING (sh) GROUP BY ALL)
            SELECT id_new, id_ref, m::DOUBLE / (kn + kr - m) AS j
            FROM shared WHERE m::DOUBLE / (kn + kr - m) >= {threshold}
        """).fetchall()
    return {(int(a), int(b), round(j, 6)) for a, b, j in rows}
