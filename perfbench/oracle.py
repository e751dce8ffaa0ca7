"""Independent output checks: DuckDB SQL over the generated parquet.

``expected(workload, work)`` computes each workload's expected result once
per seed; ``check(workload, work, exp, out)`` compares one sample's output
with it and returns the names of the operations whose output differs.
No engine code is involved.
"""
import os

import duckdb

SRC_COLS = ["id", "part_key_col_1", "clust_key_col_1", "clust_key_col_2", "payload_col",
            "my_col", "qty", "ck", "kl_key", "version", "tile_id", "day", "hit_count",
            "view_count", "row_ttl_value"]


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _digest(con, relation_sql):
    """Order-insensitive digest of a relation: its sorted column names, row
    count and the sum of per-row hashes over VARCHAR-cast values."""
    cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {relation_sql}").fetchall())
    args = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    n, h = con.execute(f"SELECT count(*), sum(hash({args})) FROM {relation_sql}").fetchone()
    return {"columns": cols, "rows": n, "hash": str(h)}


def _pq(path):
    return f"read_parquet('{path}', union_by_name = true)"


def _migration_sql(work):
    src = _pq(os.path.join(work, "input", "src", "rows.parquet", "*.parquet"))
    seed = _pq(os.path.join(work, "input", "target_seed", "insert_new.parquet", "*.parquet"))
    hashes = _pq(os.path.join(work, "truth", "my_col_hash.parquet"))
    cols = ", ".join(SRC_COLS)
    no_ttl = ", ".join(c for c in SRC_COLS if c != "row_ttl_value")
    return {
        "pushdown_calc": f"""(SELECT {no_ttl}, 604800 - (86400 - row_ttl_value) AS row_ttl_value,
              h.my_col_hash FROM {src} s JOIN {hashes} h USING (id)
            WHERE clust_key_col_1 IN (1, 2, 3) AND clust_key_col_2 >= 3000
              AND clust_key_col_2 < 10000 AND qty > 2)""",
        "insert_new": f"""(SELECT {cols} FROM {seed} UNION ALL
            SELECT {cols} FROM {src} WHERE id NOT IN (SELECT id FROM {seed}))""",
        "keep_last": f"""(SELECT {cols} FROM (SELECT *, row_number() OVER
              (PARTITION BY kl_key ORDER BY version DESC) AS rn FROM {src}) WHERE rn = 1)""",
        "counter": f"""(SELECT tile_id, day, CAST(sum(hit_count) AS BIGINT) AS hit_count,
              CAST(sum(view_count) AS BIGINT) AS view_count FROM {src} GROUP BY tile_id, day)""",
        "interp_calc": f"(SELECT {cols}, ck * qty * (qty - 1) // 2 AS loop_sum FROM {src})",
    }


def expected(workload, work):
    con = _con()
    if workload == "migrate-batch":
        return {t: _digest(con, sql) for t, sql in _migration_sql(work).items()}
    if workload == "migrate-stream":
        return {"insert_new": _digest(con, _migration_sql(work)["insert_new"])}
    if workload == "curate":
        truth = _pq(os.path.join(work, "truth", "curate.parquet"))
        rows = con.execute(f"""SELECT min(doc_id) FROM {truth} WHERE gate_pass
                               GROUP BY cluster ORDER BY 1""").fetchall()
        return {"kept": [r[0] for r in rows]}
    if workload == "neardup-stream":
        truth = _pq(os.path.join(work, "truth", "neardup.parquet"))
        rows = con.execute(f"""
            WITH t AS (SELECT id, cluster, streamed,
                         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s FROM {truth}),
            sh AS (SELECT DISTINCT id, substr(s, i, 5) AS g
                   FROM (SELECT id, s, unnest(range(1, length(s) - 3)) AS i FROM t)),
            n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
            p AS (SELECT a.id AS ida, b.id AS idb FROM t a JOIN t b
                  ON a.cluster = b.cluster AND a.id < b.id WHERE a.streamed OR b.streamed),
            i AS (SELECT p.ida, p.idb, count(*) AS inter FROM p
                  JOIN sh x ON x.id = p.ida JOIN sh y ON y.id = p.idb AND x.g = y.g
                  GROUP BY p.ida, p.idb)
            SELECT i.ida, i.idb FROM i JOIN n na ON na.id = i.ida JOIN n nb ON nb.id = i.idb
            WHERE i.inter / (na.n + nb.n - i.inter) >= 0.7 ORDER BY 1, 2""").fetchall()
        return {"pairs": [list(r) for r in rows]}
    raise ValueError(workload)


def check(workload, work, exp, out):
    """Names of the operations of one sample whose output is wrong."""
    con = _con()
    if workload in ("migrate-batch", "migrate-stream"):
        bad = []
        for t, want in exp.items():
            path = os.path.join(out, f"{t}.parquet")
            if not os.path.isdir(path):
                bad.append(t)
                continue
            got = _digest(con, _pq(os.path.join(path, "**", "*.parquet")))
            if got != want:
                bad.append(t)
        return bad
    if workload == "curate":
        got = [r[0] for r in con.execute(
            f"SELECT doc_id FROM {_pq(os.path.join(out, '*.parquet'))} ORDER BY 1").fetchall()]
        return [] if got == exp["kept"] else ["pipeline"]
    if workload == "neardup-stream":
        got = [list(r) for r in con.execute(
            f"""SELECT idA, idB FROM read_parquet('{os.path.join(out, "**", "*.parquet")}',
                 hive_partitioning = false) ORDER BY 1, 2""").fetchall()]
        return [] if got == exp["pairs"] else ["pairs"]
    raise ValueError(workload)
