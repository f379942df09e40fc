"""One-order-of-magnitude-larger oracle-parity pass (VERDICT r02 #8).

Builds an sf1-shaped dataset (10x sf0.1) by deterministic replication of
the driver's sf0.1 tables — key columns get per-copy offsets so referential
integrity holds within each copy, text/embedding payloads get tiny
deterministic perturbations so replication does not create cross-copy ties
(ties are where engine-vs-oracle ordering could legitimately diverge) —
then runs every queries()/oracle_sql() pair through the same compare()
the driver-style gate uses, at the new scale.

The driver's testdata is read-only and has no sf1; both engines read the
SAME generated parquet, so parity is meaningful regardless of generator.

Usage: python scripts/sf1_parity.py [--dir /dev/shm/spark_graft_sf1]
Emits one JSON line {pass, fail, sec, failures:{name: msg}} and exits
nonzero on any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
COPIES = 10
# clean power-of-ten offsets far above every sf0.1 key range
OFF = {
    "custkey": 10_000_000,
    "orderkey": 100_000_000,
    "partkey": 10_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 10_000_000,
}

# table -> select-list template; {k} is the copy index (0..COPIES-1).
# Dims (region, nation, supplier) are NOT replicated — star-schema scale-up
# grows facts, not dims, which is also what keeps broadcast plans honest.
REPLICATED = {
    "customer": """
        SELECT c_custkey + {k}*{custkey} AS c_custkey, c_name,
               c_nationkey, c_acctbal, c_mktsegment FROM customer""",
    "orders": """
        SELECT o_orderkey + {k}*{orderkey} AS o_orderkey,
               o_custkey + {k}*{custkey} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders""",
    "lineitem": """
        SELECT l_orderkey + {k}*{orderkey} AS l_orderkey,
               l_partkey + {k}*{partkey} AS l_partkey,
               l_suppkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem""",
    "part": """
        SELECT p_partkey + {k}*{partkey} AS p_partkey, p_name, p_brand,
               p_type, p_size, p_retailprice FROM part""",
    "events": """
        SELECT event_id + {k}*{event_id} AS event_id, ts,
               user_id + {k}*{user_id} AS user_id,
               event_type, value, props FROM events""",
    # Copy 1 keeps a suffix-only edit (a TRUE near-dup of copy 0 — one
    # boilerplate sibling per doc, the realistic web-scale shape). Copies
    # 2..9 get a per-copy letter rotation that rewrites every shingle:
    # replicating near-identical text 10x put every doc in a 10-member
    # near-dup clique and inflated the shingle inverted-index self-join
    # ~100x (measured: dedup_ngram_jaccard ran 60+ min at sf1) — a data
    # artifact of naive replication, not a property of the engine.
    "documents": """
        SELECT doc_id + {k}*{doc_id} AS doc_id,
               CASE WHEN {k} = 0 THEN text
                    WHEN {k} = 1 THEN text || ' rev1'
                    ELSE translate(text, 'etaoinshrd', {rot}) END AS text,
               lang, source,
               CASE WHEN {k} = 1 THEN n_chars + 5 ELSE n_chars END AS n_chars
        FROM documents""",
    # per-copy constant add breaks cosine ties (cosine is scale-invariant,
    # so a multiply would NOT); label offset keeps block sizes constant so
    # the blocked self-joins scale by row count, not by block-size^2
    "embeddings": """
        SELECT vec_id + {k}*{vec_id} AS vec_id,
               CAST(list_transform(embedding, x -> x + {k} * 0.0003)
                    AS FLOAT[]) AS embedding,
               label + {k} * 1000 AS label
        FROM embeddings""",
}
DIMS = ["region", "nation", "supplier"]


def build(out_dir: str) -> None:
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in DIMS + list(REPLICATED):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SRC}/{t}.parquet')"
        )
    for t in DIMS:
        con.execute(
            f"COPY (SELECT * FROM {t}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    alpha = "etaoinshrd"
    for t, tpl in REPLICATED.items():
        parts = " UNION ALL ".join(
            tpl.format(k=k, rot=f"'{alpha[k % 10:] + alpha[:k % 10]}'", **OFF)
            for k in range(COPIES)
        )
        con.execute(
            f"COPY ({parts}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    with open(marker, "w") as f:
        f.write("1")


def _banded_simhash_near_sql(bits: int = 16, max_hamming: int = 3) -> str:
    """sf1-only oracle for dedup_simhash_near: the registered oracle is the
    trivially-correct O(n^2) cross join — 1.25e9 pairs at sf1 (measured:
    killed after 35 min single query). This variant applies the same
    4-band pigeonhole (Hamming<=3 over 4 bands forces >=1 identical band —
    lossless) with hash-joinable band equalities, and packs the 16-char
    '0'/'1' signature into one integer so the per-collision Hamming verify
    is xor+bit_count instead of 2x16 substr CASEs (the substr form spent
    30+ min on sf1's ~3e8 raw band collisions). Its equivalence to the
    quadratic formulation is not assumed here: the driver gate and
    tests/test_oracle_parity.py prove exactly that equivalence at
    sf0.01/sf0.001 against the quadratic oracle every round."""
    from omicidx_etl_spark.queries import _simhash_cte

    band = bits // 4
    pack = " + ".join(
        f"(CASE WHEN substr(simhash, {x+1}, 1) = '1' "
        f"THEN {1 << (bits - 1 - x)} ELSE 0 END)"
        for x in range(bits)
    )
    # Hamming filter INSIDE each band join: the union then dedups only the
    # (small) qualifying pair set instead of ~10^8 raw band collisions.
    bands = "\n      UNION\n".join(
        f"""      SELECT a.doc AS doc_a, b.doc AS doc_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM sigi a JOIN sigi b
        ON ((a.sh >> {bits - (i + 1) * band}) & {(1 << band) - 1})
         = ((b.sh >> {bits - (i + 1) * band}) & {(1 << band) - 1})
       AND a.doc < b.doc
      WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}"""
        for i in range(4)
    )
    return f"""
    {_simhash_cte(bits)}
    , sigi AS (SELECT doc, CAST({pack} AS BIGINT) AS sh FROM sig)
    SELECT doc_a, doc_b, hamming FROM (
{bands}
    )
    """


# Queries whose registered oracle is deliberately quadratic (fine at the
# driver's sf0.01 gate, infeasible at sf1) get a scalable-but-equivalent
# oracle here; the equivalence itself is what the small-SF gates prove.
def _oracle_overrides() -> dict[str, str]:
    return {"dedup_simhash_near": _banded_simhash_near_sql(16, 3)}


def _cc_unionfind_check(spark, sf_dir: str) -> "tuple[bool, str]":
    """sf1-only oracle for dedup_cluster_cc: the registered DuckDB
    recursive-CTE closure materializes Σ component_size² reach rows —
    measured 25+ min without completing on sf1's ~600k-pair graph. This
    check replaces it with a driver-side union-find: an independent exact
    closure over the SAME pair set, whose own sf1 parity
    (dedup_minhash_lsh vs DuckDB) is proven in this sweep; the
    recursive-CTE equivalence itself is proven at sf0.001/sf0.01 by the
    driver gate every round. Pairs collect is ~600k 2-int rows (~10 MB)."""
    from omicidx_etl_spark import queries as Q

    pairs = Q._REGISTRY["dedup_minhash_lsh"][0](spark, sf_dir).collect()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = r["doc_a"], r["doc_b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    exp = {}
    for members in comp.values():
        canon = min(members)
        for m in members:
            exp[m] = (canon, len(members), 1 if m == canon else 0)

    got_rows = Q._REGISTRY["dedup_cluster_cc"][0](spark, sf_dir).collect()
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in got_rows
    }
    if got == exp:
        return True, f"ok (union-find oracle, {len(got)} rows)"
    miss = {k for k in exp if k not in got} | {k for k in got if k not in exp}
    diff = [k for k in exp if k in got and got[k] != exp[k]][:3]
    return False, (
        f"{len(miss)} row mismatches, {len(diff)}+ value mismatches; "
        f"examples: {[(k, got.get(k), exp.get(k)) for k in diff]}"
    )


# Queries verified by a non-SQL independent oracle at sf1 (same philosophy
# as _oracle_overrides, for closures SQL recursion cannot bound).
_SPECIAL_CHECKS = {"dedup_cluster_cc": _cc_unionfind_check}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/dev/shm/spark_graft_sf1")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument(
        "--state", default="/tmp/sf1_parity_state.json",
        help="incremental results file; queries already 'ok' there are "
        "skipped (the host kills long JVMs — a sweep must be resumable)")
    args = ap.parse_args()

    t0 = time.time()
    build(args.dir)
    gen_sec = round(time.time() - t0, 1)

    from omicidx_etl_spark import queries as Q
    from omicidx_etl_spark.plans.oracle import compare
    from omicidx_etl_spark.session import get_spark

    def _session():
        # Long network/heartbeat timeouts: this host freezes whole JVMs for
        # minutes at a time (hypervisor page-supply stalls); the default
        # 120 s heartbeat kill wedges the session mid-sweep.
        return get_spark(
            "sf1-parity",
            extra_conf={
                "spark.local.dir": os.path.join(args.dir, "_spark_local"),
                "spark.network.timeout": "1200s",
                "spark.executor.heartbeatInterval": "60s",
            },
        )

    spark = _session()
    names = sorted(Q._REGISTRY)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    overrides = _oracle_overrides()
    results: dict[str, str] = {}
    times: dict[str, float] = {}
    if args.state and os.path.exists(args.state):
        prior = json.load(open(args.state))
        results = {n: m for n, m in prior.get("results", {}).items()
                   if m.startswith("ok")}
        times = {n: prior.get("times", {}).get(n, 0.0) for n in results}
        print(f"[sf1] resume: {len(results)} prior ok", file=sys.stderr)
    for name in names:
        if name in results:
            continue
        fn, sql = Q._REGISTRY[name]
        if sql is not None and name in overrides:
            sql = overrides[name]
        tq = time.time()
        for attempt in (0, 1):
            try:
                if name in _SPECIAL_CHECKS:
                    ok, msg = _SPECIAL_CHECKS[name](spark, args.dir)
                    results[name] = msg if ok else f"FAIL: {msg}"
                elif sql is None:
                    n = fn(spark, args.dir).count()
                    results[name] = f"ok (rows-only, {n} rows)"
                else:
                    ok, msg = compare(fn(spark, args.dir), sql, args.dir)
                    results[name] = msg if ok else f"FAIL: {msg}"
                break
            except Exception as e:  # noqa: BLE001 — record and keep sweeping
                results[name] = f"FAIL: {type(e).__name__}: {e}"
                # a dead JVM fails every later query too — rebuild and retry
                try:
                    spark.stop()
                except Exception:  # noqa: BLE001
                    pass
                spark = _session()
        times[name] = round(time.time() - tq, 1)
        print(f"[sf1] {name}: {results[name]} ({times[name]}s)", file=sys.stderr)
        if args.state:
            tmp = args.state + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"results": results, "times": times}, f)
            os.replace(tmp, args.state)
    spark.stop()

    failures = {n: m for n, m in results.items() if m.startswith("FAIL")}
    print(json.dumps({
        "sf": 1.0, "dir": args.dir, "gen_sec": gen_sec,
        "pass": len(results) - len(failures), "fail": len(failures),
        "sec": round(time.time() - t0, 1),
        "slowest": dict(sorted(times.items(), key=lambda kv: -kv[1])[:8]),
        "failures": failures,
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
