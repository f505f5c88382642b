"""Output checks for one benchmark run, run after the timed passes.

recsys-topk: every query's output, as the last timed warm pass wrote
it, is compared with the DuckDB oracle for that query
(`SparkEntry.oracleSql`, run on the same input files), after the row
normalisation of scripts/check.py: columns sorted by name, floats rounded
to 6 places, rows sorted. The top-K recommender is also checked for the
properties every top-K method must have: at most K rows per user, no
item the user already rated, ranks 1..n and scores that do not increase
with rank.

stream-ingest: the manifest built by the micro-batch gates is checked
against the batch twin q125 (its DuckDB oracle): the same per-source
document and token totals and the same first and last kept doc_id per
source; no doc kept twice; every shard within the q119 bound (target
tokens plus one document); and replaying a batch id leaves the state's
rows unchanged.

    python3 perfbench/checks.py --self-test

feeds the checks tampered outputs (a dropped row, a perturbed score, an
already-rated item, scores rising with rank, a batch ingested twice, and
a wrong query output file read back through check_run) and exits
non-zero unless every one is rejected and the wrong file makes the run's
result incorrect.
"""
import math
import os
import sys

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
TOP_K = 5            # Recommender.K_ITEMS
SHARD_TOKENS = 500   # Analytics.SHARD_TOKENS
RATINGS_SQL = """SELECT o_custkey AS user_id, l_partkey AS item_id
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 GROUP BY 1, 2"""
# Queries whose rows are per-user top-K lists: (user_id, item_id, score, rk).
TOPK = {"q33_hybrid_topk"}


def connect(data, work):
    import duckdb
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(config={"temp_directory": tmp, "threads": 2,
                                 "memory_limit": "2GB"})
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def normalised(df):
    cols = sorted(df.columns)
    return df[cols].apply(lambda c: c.map(norm)).sort_values(
        cols, key=lambda c: c.astype(str)).reset_index(drop=True)


def compare(got, exp):
    """None if the two frames hold the same rows, else why not."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle has {len(exp)}"
    g, e = normalised(got), normalised(exp)
    if g.equals(e):
        return None
    neq = (g != e).any(axis=1)
    return (f"{int(neq.sum())}/{len(g)} rows differ, first: "
            f"{g[neq].head(1).to_dict('records')} vs {e[neq].head(1).to_dict('records')}")


def topk_properties(df, rated):
    """None if `df` is a valid per-user top-K list, else why not."""
    if not {"user_id", "item_id", "score", "rk"} <= set(df.columns):
        return f"not a top-K list: columns {list(df.columns)}"
    sizes = df.groupby("user_id").size()
    if (sizes > TOP_K).any():
        return f"{int((sizes > TOP_K).sum())} users with more than {TOP_K} items"
    if df.duplicated(["user_id", "item_id"]).any():
        return "an item recommended twice to one user"
    pairs = set(zip(df["user_id"], df["item_id"]))
    already = pairs & rated
    if already:
        return f"{len(already)} recommended items already rated, e.g. {sorted(already)[0]}"
    for u, g in df.groupby("user_id"):
        g = g.sort_values("rk")
        if list(g["rk"]) != list(range(1, len(g) + 1)):
            return f"user {u} ranks {list(g['rk'])} are not 1..n"
        if (g["score"].diff().dropna() > 1e-9).any():
            return f"user {u} scores increase with rank"
    return None


def check_queries(con, res, work):
    failed = {}
    rated = None
    for name in res["ops"]:
        if name in res["failures"]:
            continue
        out = os.path.join(work, "out", name)
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out}/*.parquet')").fetch_df()
            sql = res["oracle_sql"].get(name, "")
            why = compare(got, con.execute(sql).fetch_df()) if sql else None
            if why is None and name in TOPK:
                if rated is None:
                    rated = set(map(tuple, con.execute(RATINGS_SQL).fetchall()))
                why = topk_properties(got, rated)
            if why is None and not sql and name not in TOPK:
                why = "no oracle and no property check"
        except Exception as e:  # a crash in the compare is a failed check
            why = f"check crashed: {e}"
        if why is not None:
            failed[name] = why
    return failed


def manifest_problems(manifest, oracle):
    """None if the streamed doc-level manifest keeps what the batch q125
    manifest (shard level) keeps, per source, and honours the q119 bound."""
    if manifest["doc_id"].duplicated().any():
        return "a document kept twice"
    per = manifest.groupby("source").agg(
        n_docs=("doc_id", "size"), tokens=("n_tok", "sum"),
        lo=("doc_id", "min"), hi=("doc_id", "max"))
    want = oracle.groupby("source").agg(
        n_docs=("n_docs", "sum"), tokens=("shard_tokens", "sum"),
        lo=("min_doc", "min"), hi=("max_doc", "max"))
    if sorted(per.index) != sorted(want.index):
        return f"sources {sorted(per.index)} != q125 {sorted(want.index)}"
    diff = (per.loc[want.index].astype("int64") != want.astype("int64")).any(axis=1)
    if diff.any():
        s = diff[diff].index[0]
        return f"source {s}: {per.loc[s].to_dict()} != q125 {want.loc[s].to_dict()}"
    shards = manifest.groupby(["source", "shard_id"]).agg(
        tokens=("n_tok", "sum"), biggest=("n_tok", "max"))
    over = shards[shards["tokens"] > SHARD_TOKENS + shards["biggest"]]
    if len(over):
        return f"{len(over)} shards over the target plus one document"
    return None


def state_rows(con, root):
    """{partition dir: sorted rows} for every parquet directory under root."""
    rows = {}
    for d, _, files in os.walk(root):
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(d, root)
            rows[rel] = sorted(map(repr, con.execute(
                f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchall()))
    return rows


def check_ingest(con, res, work):
    failed = {}
    try:
        manifest = con.execute(
            f"SELECT * FROM read_parquet('{work}/out/manifest/*.parquet')").fetch_df()
        oracle = con.execute(res["oracle_sql"]["q125_training_manifest"]).fetch_df()
        why = manifest_problems(manifest, oracle)
    except Exception as e:
        why = f"check crashed: {e}"
    if why:
        failed["manifest"] = why
    before = state_rows(con, os.path.join(work, "replay", "before"))
    after = state_rows(con, os.path.join(work, "replay", "after"))
    if not before or before != after:
        changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
        failed["replay"] = f"replaying a batch changed {changed[:5]}"
    return failed


def check_run(workload, res, data, work):
    """{"failed_ops", "why"}: the ops whose output check failed, and why."""
    con = connect(data, work)
    try:
        if workload == "stream-ingest":
            why = check_ingest(con, res, work)
            # a failed ingest check fails every gate call of the pass
            failed_ops = list(res["ops"]) if why else []
        else:
            why = check_queries(con, res, work)
            failed_ops = sorted(why)
    finally:
        con.close()
    return {"failed_ops": failed_ops, "why": why}


def outcome(res, verdict):
    """(correct, attempted, failed) of a run. Every op is attempted once
    per timed pass; an op that threw or whose output check failed counts
    as failed in every pass. The run is correct only if no output check
    failed: an op that threw has no output to be wrong."""
    n = len(res["passes"])
    failed_ops = set(res["failures"]) | set(verdict["failed_ops"])
    return not verdict["failed_ops"], len(res["ops"]) * n, len(failed_ops) * n


# ---- self-test ------------------------------------------------------------

def self_test():
    import pandas as pd
    rated = {(1, 10), (2, 20)}
    good = pd.DataFrame({"user_id": [1, 1, 2], "item_id": [11, 12, 21],
                         "rk": [1, 2, 1], "score": [0.9, 0.8, 0.5]})
    manifest = pd.DataFrame({"doc_id": [1, 2, 3, 4], "source": ["a", "a", "b", "b"],
                             "n_tok": [300, 300, 100, 50], "shard_id": [0, 1, 0, 0],
                             "batch_id": [0, 1, 0, 1]})
    q125 = pd.DataFrame({"source": ["a", "a", "b"], "shard_id": [0, 1, 0],
                         "n_docs": [1, 1, 2], "shard_tokens": [300, 300, 150],
                         "min_doc": [1, 2, 3], "max_doc": [1, 2, 4]})
    assert compare(good, good.copy()) is None, "identical outputs must match"
    assert topk_properties(good, rated) is None, "a valid top-K list must pass"
    assert manifest_problems(manifest, q125) is None, "a valid manifest must pass"

    cases = {
        "dropped row": compare(good.drop(index=1), good),
        "perturbed score": compare(good.assign(score=[0.9, 0.8, 0.5001]), good),
        "already-rated item": topk_properties(good.assign(item_id=[11, 10, 21]), rated),
        "scores increasing with rank": topk_properties(
            good.assign(score=[0.8, 0.9, 0.5]), rated),
        "batch ingested twice": manifest_problems(
            pd.concat([manifest, manifest[manifest.batch_id == 1].assign(batch_id=2)]),
            q125),
    }
    ok = True
    for name, why in cases.items():
        print(f"{'rejected' if why else 'ACCEPTED'}: {name}" + (f" ({why})" if why else ""))
        ok &= why is not None
    for tampered in (False, True):
        correct = run_outcome(tampered)
        print(f"{'tampered' if tampered else 'true'} output file: correct={correct}")
        ok &= correct != tampered
    print("self-test", "passed" if ok else "FAILED")
    return ok


def run_outcome(tampered):
    """`correct` of a one-query run whose output file holds the oracle's
    rows, or the oracle's rows with one score perturbed."""
    import shutil
    import tempfile
    import duckdb
    base = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        data = os.path.join(work, "data")
        os.makedirs(os.path.join(work, "out", "q"))
        os.makedirs(data)
        sql = "SELECT o_custkey, sum(o_totalprice) AS spent FROM orders GROUP BY 1"
        con = duckdb.connect()
        con.execute(f"""COPY (SELECT i % 7 AS o_custkey, i * 1.5 AS o_totalprice
                         FROM range(50) t(i)) TO '{data}/orders.parquet'""")
        bump = "+ CASE WHEN o_custkey = 3 THEN 0.01 ELSE 0 END" if tampered else ""
        con.execute(f"""COPY (SELECT o_custkey, spent {bump} AS spent FROM ({sql}))
                        TO '{work}/out/q/part-0.parquet'""".replace("FROM orders",
                                                                   f"FROM '{data}/orders.parquet'"))
        con.close()
        res = {"ops": ["q"], "failures": {}, "oracle_sql": {"q": sql}, "passes": [{}, {}]}
        correct, _, _ = outcome(res, check_run("recsys-topk", res, data, work))
        return correct
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        sys.exit(0 if self_test() else 1)
    sys.exit("usage: python3 perfbench/checks.py --self-test")
