"""DuckDB reference for ``corpus_pipeline_v3``, composed from the registered
oracles of its five stages.

The funnel's own registered oracle inlines all five stages into one
statement, and DuckDB exceeds a 3 GB memory limit on it even at 60
documents. Here each stage's registered oracle runs on its own, over a
``documents`` view bound to the population that stage sees in the funnel,
and the stage results are materialized in between:

    entropy gate   text_entropy_filter   over all docs
    learned gate   quality_classifier    over the entropy survivors
    near-dup cut   dedup_minhash_apply   over all docs
    temperature    sample_temperature    over the docs that pass all three
    packing        pack_sequences        over the sampled docs

The glue joins below are the funnel's composition rule, read off its
docstring; every per-stage computation is the registered oracle's.
"""

from __future__ import annotations

import duckdb

COLUMNS = (
    "doc_id", "lang", "n_tokens", "pack_id",
    "n_input", "n_entropy", "n_clf", "n_dedup", "n_final",
)


def _stage(con, oracles: dict, name: str, population: str, into: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {population}")
    con.execute(f"CREATE TABLE {into} AS {oracles[name]}")


def funnel_rows(parquet_path: str, oracles: dict, tmp_dir: str) -> list[tuple]:
    """The funnel's output rows for the corpus at *parquet_path*, in
    ``COLUMNS`` order, sorted by doc_id. DuckDB spills to *tmp_dir*."""
    con = duckdb.connect()
    try:
        con.execute(f"SET memory_limit='1GB'; SET threads=2; SET temp_directory='{tmp_dir}'")
        con.execute(f"CREATE TABLE docs AS SELECT * FROM read_parquet('{parquet_path}')")
        _stage(con, oracles, "text_entropy_filter", "docs", "ent")
        con.execute(
            "CREATE TABLE surv1 AS SELECT d.* FROM docs d JOIN ent USING (doc_id)"
            " WHERE ent.kept"
        )
        _stage(con, oracles, "quality_classifier", "surv1", "clf")
        _stage(con, oracles, "dedup_minhash_apply", "docs", "removed")
        con.execute(
            """CREATE TABLE flags AS
            SELECT d.doc_id, ent.kept AS ent_ok,
                   ent.kept AND COALESCE(clf.kept, FALSE) AS clf_sv,
                   removed.doc_id IS NULL AS nodup
            FROM docs d JOIN ent USING (doc_id)
            LEFT JOIN clf USING (doc_id) LEFT JOIN removed USING (doc_id)"""
        )
        con.execute(
            "CREATE TABLE s3 AS SELECT d.* FROM docs d JOIN flags USING (doc_id)"
            " WHERE clf_sv AND nodup"
        )
        _stage(con, oracles, "sample_temperature", "s3", "temp")
        con.execute(
            "CREATE TABLE s4 AS SELECT d.* FROM docs d"
            " WHERE d.doc_id IN (SELECT doc_id FROM temp)"
        )
        _stage(con, oracles, "pack_sequences", "s4", "pack")
        return con.execute(
            """SELECT p.doc_id, p.lang, p.n_tokens, p.shard,
                      c.n_input, c.n_entropy, c.n_clf, c.n_dedup,
                      (SELECT count(*) FROM s4) AS n_final
            FROM pack p CROSS JOIN (
              SELECT count(*) AS n_input,
                     count(*) FILTER (WHERE ent_ok) AS n_entropy,
                     count(*) FILTER (WHERE clf_sv) AS n_clf,
                     count(*) FILTER (WHERE clf_sv AND nodup) AS n_dedup
              FROM flags) c
            ORDER BY p.doc_id"""
        ).fetchall()
    finally:
        con.close()


def normalize(rows) -> list[tuple]:
    """Spark Rows or DuckDB tuples in ``COLUMNS`` order → comparable tuples."""
    out = [
        (int(r[0]), str(r[1]), *(int(v) for v in r[2:]))
        for r in rows
    ]
    return sorted(out)
