#!/usr/bin/env python3
"""Staged DuckDB replay of q98_pagerank's oracle for big SFs.

The single-statement oracle SQL (SparkEntry.oracleSql["q98_pagerank"])
is what the driver runs at sf0.01. At sf10+ two things break the
one-statement form on this box: DuckDB retains each MATERIALIZED
iteration's spilled temp until the whole statement finishes, and the
items-self-join edge build alone needs a ~550M-row hash join at sf100.

This script replays the IDENTICAL computation resource-bounded:

  1. edges: per-order basket lists built in order-key chunks, then the
     oracle's DISTINCT pair set re-expanded per hash bucket (buckets
     partition the pair keyspace; each pass sees all baskets, so the
     per-bucket DISTINCT is exact at 1/P temp) -> ed parquet;
  2. graph: deg / adjacency / nodes, with the 2x-edge adjacency kept
     as PARQUET and streamed per iteration (a 1.2B-edge sf100 graph as
     a DB table would be a ~50 GB database file; as parquet it is a
     compressed scan against a 20M-row in-memory rank build side);
  3. 15 rank iterations, one statement each, predecessor dropped --
     expression-for-expression the oracle SQL: same 1e-18 fixed-point
     contribution quantization (per-EDGE FLOOR, so partial sums are
     associative and the staged replay is exact), same damping, same
     tiebreak;
  4. top-100 compare against graft's Verify dump exactly like
     tools/oracle_check.py.

A PASS here is the same evidence as a single-statement PASS, just
replayed in a resource-bounded way. Validate at a lower decade first
(r12: old form at sf10; r13: this form at sf10 before sf100).

Usage: tools/oracle_pagerank_staged.py [sf_dir] [verify_out_dir]
Env:   ORACLE_DUCKDB_MEM / ORACLE_DUCKDB_TMP / ORACLE_DUCKDB_THREADS,
       ORACLE_STAGED_DIR (work dir, default target/ducktmp_staged/pr),
       ORACLE_BP_CHUNKS (basket chunks, default 4),
       ORACLE_BP_BUCKETS (pair buckets, default 8)
"""
import math
import os
import shutil
import sys

import duckdb

ITERS = 15


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "target/testdata/sf10"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vsf10"
    work = os.environ.get("ORACLE_STAGED_DIR", "target/ducktmp_staged/pr")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    chunks = int(os.environ.get("ORACLE_BP_CHUNKS", "4"))
    buckets = int(os.environ.get("ORACLE_BP_BUCKETS", "8"))
    con = duckdb.connect(os.path.join(work, "pr.duckdb"))
    con.execute("SET preserve_insertion_order=false")
    if os.environ.get("ORACLE_DUCKDB_THREADS"):
        con.execute(f"SET threads={int(os.environ['ORACLE_DUCKDB_THREADS'])}")
    con.execute(
        f"SET memory_limit='{os.environ.get('ORACLE_DUCKDB_MEM', '60GB')}'")
    tmp = os.environ.get("ORACLE_DUCKDB_TMP", os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")

    # stage 1: the oracle's DISTINCT co-occurrence pair set (ed CTE),
    # basket-built in bounded passes
    bdir = os.path.join(work, "baskets")
    edir = os.path.join(work, "ed")
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(edir, exist_ok=True)
    for c in range(chunks):
        con.execute(f"""COPY (
          SELECT l_orderkey AS ok, list_sort(list(DISTINCT l_partkey) FILTER (WHERE l_partkey IS NOT NULL)) AS items
          FROM '{sf}/lineitem.parquet'
          WHERE l_orderkey % {chunks} = {c}
          GROUP BY l_orderkey
        ) TO '{bdir}/c{c}.parquet' (FORMAT parquet)""")
        print(f"baskets chunk {c + 1}/{chunks} done", flush=True)
    for h in range(buckets):
        con.execute(f"""COPY (
          SELECT DISTINCT pr[1] AS src, pr[2] AS dst
          FROM (
            SELECT unnest(flatten(list_transform(range(1, len(items) + 1),
                i -> list_transform(range(i + 1, len(items) + 1),
                     j -> [items[i], items[j]])))) AS pr
            FROM '{bdir}/*.parquet')
          WHERE hash(pr[1], pr[2]) % {buckets} = {h}
        ) TO '{edir}/h{h}.parquet' (FORMAT parquet)""")
        print(f"edges bucket {h + 1}/{buckets} done", flush=True)
    shutil.rmtree(bdir)

    # stage 2: deg / parquet adjacency / nodes — expression-for-
    # expression the oracle's bi/deg/adj CTEs
    con.execute(f"""CREATE TABLE deg AS
      SELECT src, COUNT(*) AS deg FROM (
        SELECT src, dst FROM '{edir}/*.parquet'
        UNION ALL SELECT dst AS src, src AS dst FROM '{edir}/*.parquet')
      GROUP BY src""")
    # adjacency hive-partitioned on hash(dst) so each iteration can run
    # as one statement per bucket: dst determines its bucket, so the
    # per-bucket GROUP BY dst is complete, and the oracle's per-EDGE
    # 1e-18 FLOOR quantization makes the contribution sums associative
    # — the bucketed replay is exact (a single-statement iteration's
    # 2.4B-row join+aggregate spilled past the sf100 disk window).
    adj = os.path.join(work, "adj")
    con.execute(f"""COPY (
      SELECT b.src, b.dst, d.deg, hash(b.dst) % {buckets} AS hb FROM (
        SELECT src, dst FROM '{edir}/*.parquet'
        UNION ALL SELECT dst AS src, src AS dst FROM '{edir}/*.parquet') b
      JOIN deg d ON b.src = d.src
    ) TO '{adj}' (FORMAT parquet, PARTITION_BY (hb))""")
    con.execute("CREATE TABLE nodes AS SELECT src AS id FROM deg")
    shutil.rmtree(edir)
    # the oracle's p CTE, verbatim, so base/r_init are the same doubles
    base, r_init = con.execute(
        """SELECT (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE),
                  CAST(1.0 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) FROM nodes""").fetchone()
    n = con.execute("SELECT COUNT(*) FROM nodes").fetchone()[0]
    print(f"graph: {n} nodes", flush=True)

    # stage 3: rank iterations, one statement each, adjacency streamed
    # from parquet against the in-memory rank build side
    con.execute(f"CREATE TABLE r0 AS SELECT id, CAST({r_init!r} AS DOUBLE) AS rank FROM nodes")
    for i in range(1, ITERS + 1):
        # HUGEINT, not BIGINT: DuckDB's SUM(BIGINT) yields HUGEINT, and
        # the registered oracle casts that HUGEINT straight to DOUBLE —
        # declaring the staging column BIGINT would narrow the sum on
        # INSERT, a different type path than the oracle's (in range it
        # is value-identical, but the equivalence should not rest on an
        # unstated 2^63 magnitude bound; ADVICE r13)
        con.execute("CREATE TABLE sums (id BIGINT, in_sum_q HUGEINT)")
        for h in range(buckets):
            con.execute(f"""INSERT INTO sums
              SELECT a.dst AS id,
                SUM(CAST(FLOOR(r.rank / CAST(a.deg AS DOUBLE) * 1e18) AS BIGINT)) AS in_sum_q
              FROM '{adj}/hb={h}/*.parquet' a JOIN r{i - 1} r ON a.src = r.id
              GROUP BY a.dst""")
        con.execute(f"""CREATE TABLE r{i} AS
          SELECT n.id, CAST({base!r} AS DOUBLE) + 0.85 * COALESCE(s.in_sum, 0.0) AS rank
          FROM nodes n LEFT JOIN (
            SELECT id, CAST(in_sum_q AS DOUBLE) / 1e18 AS in_sum FROM sums) s
          ON n.id = s.id""")
        con.execute(f"DROP TABLE r{i - 1}")
        con.execute("DROP TABLE sums")
        print(f"iter {i} done", flush=True)

    ref = con.execute(
        f"SELECT id, rank FROM r{ITERS} ORDER BY rank DESC, id LIMIT 100").fetchdf()
    mine = con.execute(f"SELECT * FROM '{out}/q98_pagerank/*.parquet'").fetchdf()

    # same compare discipline as oracle_check.norm/cmp_cell
    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    if sorted(mine.columns) != sorted(ref.columns) or len(mine) != len(ref):
        print(f"FAIL q98_pagerank: shape mine={mine.shape} ref={ref.shape}")
        sys.exit(1)
    mine, ref = norm(mine), norm(ref)
    bad = []
    for c in mine.columns:
        for i, (a, b) in enumerate(zip(mine[c].tolist(), ref[c].tolist())):
            ok = (a == b) or (isinstance(a, float) and isinstance(b, float)
                              and math.isnan(a) and math.isnan(b))
            if not ok:
                bad.append((c, i, a, b))
                if len(bad) > 3:
                    break
    if bad:
        print(f"FAIL q98_pagerank: first diffs {bad[:3]}")
        sys.exit(1)
    print(f"PASS q98_pagerank ({len(mine)} rows, staged replay, {ITERS} iters)")
    con.close()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
