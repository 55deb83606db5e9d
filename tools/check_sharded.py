#!/usr/bin/env python3
"""Sharded DuckDB oracle replay for the heaviest entries (r9 verdict item 3).

At sf10 five oracles exhaust a single DuckDB process (dd03/dd08 die on
non-spillable band-join build state near the RAM line; dd06/dd07/pp01 fill
the free disk with spill).  This harness replays the SAME oracle semantics
in bounded stages:

  1. the oracle's CTE chain is SLICED at canonical markers (the signature /
     bucket build, the band self-join, the confirm/tail), never rewritten —
     the staged SQL is byte-identical to the original except that a stage
     reads its input from the previous stage's parquet instead of the CTE;
  2. the quadratic self-join runs ONCE PER BAND / PER TABLE (an exact
     decomposition: the join key includes band_id/table_id, so the union of
     per-band joins IS the original join, and the cross-band DISTINCT is
     applied afterwards exactly as the original mcand/cands CTE does);
  3. the final comparison is an order-insensitive (COUNT, SUM(hash(row)))
     fold computed INSIDE DuckDB over both the reconstructed oracle result
     and the Spark result parquet — no Python fetchall materialization,
     which is itself one of the sf10 resource walls.  Columns are hashed in
     sorted-name order, mirroring the driver's column canonicalization.

Every stage runs in its own subprocess with a memory limit and a spill dir,
so one stage's allocator state can't poison the next.

Usage: python3 tools/check_sharded.py <sfDir> <verifyOutDir> <entry> [...]
Entries: dd03_minhash_lsh dd06_embedding_neardup_lsh dd08_incremental_dedup
         pp01_corpus_pipeline dd07_dedup_survivors
"""
import sys, os, json, glob, shutil, subprocess, tempfile

MEM = os.environ.get("GRAFT_DUCKDB_MEMLIMIT", "48GB")
THREADS = os.environ.get("GRAFT_DUCKDB_THREADS", "16")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def run_stage(sfdir, workdir, statements):
    """Run SQL statements in a fresh subprocess; return last result rows."""
    script = f"""
import duckdb, json, sys
con = duckdb.connect()
con.execute("SET memory_limit='{MEM}'")
con.execute("SET threads={THREADS}")
con.execute("SET temp_directory='{workdir}/spill'")
con.execute("SET preserve_insertion_order=false")
for t in {TABLES!r}:
    con.execute(f"CREATE VIEW {{t}} AS SELECT * FROM '{sfdir}/{{t}}.parquet'")
out = None
for s in json.load(open('{workdir}/stage.json')):
    out = con.execute(s).fetchall()
print(json.dumps(out, default=str))
"""
    with open(f"{workdir}/stage.json", "w") as f:
        json.dump(statements, f)
    r = subprocess.run([sys.executable, "-c", script],
                       capture_output=True, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"stage failed: {r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def slice_between(sql, start_marker, end_marker):
    """Text of sql between markers: [after start_marker, before end_marker)."""
    i = sql.index(start_marker)
    j = sql.index(end_marker, i)
    return sql[i:j], i, j


def cte_body(chunk, name):
    """Body of `name AS ( ... )` where chunk ends just before the next CTE.
    Strips the trailing close-paren and any trailing comma/whitespace."""
    head = f"{name} AS ("
    body = chunk[chunk.index(head) + len(head):]
    body = body.rstrip().rstrip(",").rstrip()
    assert body.endswith(")"), f"unbalanced CTE slice for {name}: ...{body[-80:]}"
    return body[:-1]


def hash_fold(workdir, sfdir, query_sql, cols):
    """(count, sum-of-row-hashes) of query_sql, hashing sorted-name columns."""
    packed = ", ".join(f'{c} := "{c}"' for c in sorted(cols))
    rows = run_stage(sfdir, workdir, [
        f"SELECT COUNT(*) AS n, SUM(hash(struct_pack({packed}))) AS h FROM ({query_sql}) tt"
    ])
    return rows[0]


def spark_cols(outdir, name):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    assert files, f"no spark output for {name}"
    import duckdb
    con = duckdb.connect()
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM '{outdir}/{name}/*.parquet'").fetchall()]
    con.close()
    return cols


def distinct_ids(sfdir, workdir, parquet, col):
    """Shard ids actually present in a staged file (ADVICE r10: hardcoding
    n_bands/n_tables would silently drop shards — and produce spurious engine
    FAILs — if the Scala constants ever change)."""
    rows = run_stage(sfdir, workdir, [
        f"SELECT DISTINCT {col} FROM '{workdir}/{parquet}' ORDER BY 1"
    ])
    ids = [int(r[0]) for r in rows]
    assert ids, f"no {col} values in {parquet}"
    return ids


# ---------------------------------------------------------------- minhash ---
def staged_minhash(sql, sfdir, workdir):
    """Stage the shared minhash chain: sigs.parquet, bands.parquet, per-band
    candidate files, and return SQL snippets for msgl/mcand views that read
    them — semantics identical to the original CTEs."""
    # WITH [pp01's stage CTEs,] mw ..., msgl AS (...)
    sig_with = sql[:sql.index("mbands AS")].rstrip().rstrip(",")
    run_stage(sfdir, workdir, [
        f"COPY ({sig_with} SELECT doc_id, sig FROM msgl) TO '{workdir}/sigs.parquet'"
    ])
    mbands_chunk, _, _ = slice_between(sql, "mbands AS", "mcand AS")
    mbands_sel = cte_body(mbands_chunk, "mbands")
    run_stage(sfdir, workdir, [
        f"CREATE VIEW msgl AS SELECT * FROM '{workdir}/sigs.parquet'",
        f"COPY ({mbands_sel}) TO '{workdir}/bands.parquet'",
    ])
    mcand_chunk, _, _ = slice_between(sql, "mcand AS", "mest AS")
    mcand_sel = cte_body(mcand_chunk, "mcand")
    for b in distinct_ids(sfdir, workdir, "bands.parquet", "band_id"):
        run_stage(sfdir, workdir, [
            f"CREATE VIEW mbands AS SELECT * FROM '{workdir}/bands.parquet' WHERE band_id = {b}",
            f"COPY ({mcand_sel}) TO '{workdir}/cand_{b}.parquet'",
        ])
        print(f"  [shard] band {b} candidates staged", flush=True)
    msgl_view = f"(SELECT * FROM '{workdir}/sigs.parquet')"
    mcand_view = (f"(SELECT DISTINCT doc_a, doc_b FROM "
                  f"read_parquet('{workdir}/cand_*.parquet'))")
    return msgl_view, mcand_view


def check_minhash_family(name, sql, sfdir, outdir, workdir):
    """dd03 / dd08 / pp01: minhash chain + entry-specific tail."""
    msgl_view, mcand_view = staged_minhash(sql, sfdir, workdir)
    mest_marker = "mest AS"
    mest_end_anchor = "JOIN msgl sa ON sa.doc_id = c.doc_a JOIN msgl sb ON sb.doc_id = c.doc_b)"
    i = sql.index(mest_marker)
    j = sql.index(mest_end_anchor, i) + len(mest_end_anchor)
    mest_cte = sql[i:j]  # "mest AS ( ... c.doc_b)"
    tail = sql[j:]       # ",\nnext AS (...)...SELECT ..." or "\nSELECT ..."
    # CTEs ahead of the minhash chain (pp01's stages, which its tail reads)
    head = sql[sql.index("WITH ") + len("WITH "):sql.index("mw AS")]
    full = (f"WITH {head}msgl AS {msgl_view}, mcand AS {mcand_view}, "
            f"{mest_cte}{tail}")
    cols = spark_cols(outdir, name)
    exp = hash_fold(workdir, sfdir, full, cols)
    got = hash_fold(workdir, sfdir,
                    f"SELECT * FROM '{outdir}/{name}/*.parquet'", cols)
    return exp, got


# ------------------------------------------------------- dd06/dd14 family ---
def check_lsh_bucket_family(name, sql, sfdir, outdir, workdir):
    """dd06 / dd14: hyperplane-LSH bucket chain + entry-specific tail after
    the `cands` CTE (dd06: exact-cosine confirm; dd14: sampled confirm)."""
    tail_marker = ("SELECT vec_a, vec_b, cosine"
                   if name.startswith(("dd06", "dd15")) else "conf AS")
    pre_cands, _, _ = slice_between(sql, "WITH hh AS", "cands AS")
    bk_with = pre_cands.rstrip().rstrip(",")
    # stage the signature build PER TABLE: the sgn CTE's l-range is the only
    # cross-table coupling, so generating one l at a time is an exact
    # decomposition (union over l of sgn|l IS sgn) - the one-shot build's
    # dots intermediate (n x lp x H x 64 rows) spilled past the disk at
    # lp=12/sf10 (r12: dd15)
    import re as _re
    m = _re.search(r"generate_series\(0, (\d+)\) tl\(l\)", bk_with)
    assert m, (f"sgn table series marker 'generate_series(0, N) tl(l)' not "
               f"found in {name} oracle — the sgn CTE's formatting drifted")
    n_tables = int(m.group(1)) + 1
    os.makedirs(f"{workdir}/bk", exist_ok=True)
    for t in range(n_tables):
        bk_t = bk_with.replace(m.group(0), f"generate_series({t}, {t}) tl(l)")
        run_stage(sfdir, workdir, [
            f"COPY ({bk_t} SELECT vec_id, table_id, bucket FROM bk) "
            f"TO '{workdir}/bk/t{t}.parquet'"
        ])
        print(f"  [shard] table {t} signatures staged", flush=True)
    run_stage(sfdir, workdir, [
        f"COPY (SELECT * FROM read_parquet('{workdir}/bk/t*.parquet')) "
        f"TO '{workdir}/bk.parquet'"
    ])
    cands_chunk = sql[sql.index("cands AS"):sql.index(tail_marker)]
    cands_sel = cte_body(cands_chunk, "cands")
    for t in distinct_ids(sfdir, workdir, "bk.parquet", "table_id"):
        run_stage(sfdir, workdir, [
            f"CREATE VIEW bk AS SELECT * FROM '{workdir}/bk.parquet' WHERE table_id = {t}",
            f"COPY ({cands_sel}) TO '{workdir}/cand_{t}.parquet'",
        ])
        print(f"  [shard] table {t} candidates staged", flush=True)
    tail = sql[sql.index(tail_marker):]
    joiner = "" if tail_marker.startswith("SELECT") else ", "
    head = (f"WITH cands AS (SELECT DISTINCT vec_a, vec_b FROM "
            f"read_parquet('{workdir}/cand_*.parquet')){joiner}")
    full = head + ("" if joiner else " ") + tail
    cols = spark_cols(outdir, name)
    exp = hash_fold(workdir, sfdir, full, cols)
    got = hash_fold(workdir, sfdir,
                    f"SELECT * FROM '{outdir}/{name}/*.parquet'", cols)
    return exp, got


# ------------------------------------------------------------------- dd07 ---
def check_dd07(name, sql, sfdir, outdir, workdir, n_shards=16):
    """dd07: the disk-filling stage is `common` (all-shingle pair counts).
    Decompose by shingle hash: per-shard grouped partials, then SUM — exact,
    because COUNT over a disjoint partition of shingles sums."""
    sh_with, _, _ = slice_between(sql, "WITH w AS", "n AS (SELECT doc_id, COUNT(*)")
    sh_with = sh_with.rstrip().rstrip(",")
    run_stage(sfdir, workdir, [
        f"COPY ({sh_with} SELECT doc_id, s FROM sh) TO '{workdir}/sh.parquet'"
    ])
    print("  [shard] shingles staged", flush=True)
    for k in range(n_shards):
        run_stage(sfdir, workdir, [
            f"CREATE VIEW shp AS SELECT * FROM '{workdir}/sh.parquet' "
            f"WHERE hash(s) % {n_shards} = {k}",
            f"COPY (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c "
            f"FROM shp a JOIN shp b ON a.s = b.s AND a.doc_id < b.doc_id "
            f"GROUP BY 1, 2) TO '{workdir}/common_{k}.parquet'",
        ])
        print(f"  [shard] shingle shard {k} pair partials staged", flush=True)
    # reconstruct: sh/n from the staged parquet, common from the partial sum,
    # everything after `edges AS` verbatim
    tail = sql[sql.index("edges AS"):]
    full = (f"WITH sh AS (SELECT * FROM '{workdir}/sh.parquet'), "
            f"n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1), "
            f"common AS (SELECT doc_a, doc_b, SUM(c) AS c FROM "
            f"read_parquet('{workdir}/common_*.parquet') GROUP BY 1, 2), "
            f"{tail}")
    cols = spark_cols(outdir, name)
    exp = hash_fold(workdir, sfdir, full, cols)
    got = hash_fold(workdir, sfdir,
                    f"SELECT * FROM '{outdir}/{name}/*.parquet'", cols)
    return exp, got


HANDLERS = {
    "dd03_minhash_lsh": check_minhash_family,
    "dd08_incremental_dedup": check_minhash_family,
    # st18 is dd08's oracle shape with the probe side streamed — same CTE
    # markers, same per-band decomposition (r10 verdict item 8: its sf10
    # oracle was the one the single-process replay couldn't reach)
    "st18_streaming_neardup_probe": check_minhash_family,
    "pp01_corpus_pipeline": check_minhash_family,
    "dd06_embedding_neardup_lsh": check_lsh_bucket_family,
    "dd14_sampled_confirm": check_lsh_bucket_family,
    # r12: the wide-geometry twin shares dd06's CTE markers verbatim
    "dd15_embedding_neardup_lsh_wide": check_lsh_bucket_family,
    "dd07_dedup_survivors": check_dd07,
}


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(HANDLERS)
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_fail = 0
    for name in names:
        workdir = tempfile.mkdtemp(prefix=f"graft_shard_{name}_")
        os.makedirs(f"{workdir}/spill", exist_ok=True)
        try:
            print(f"== {name} (workdir {workdir})", flush=True)
            exp, got = HANDLERS[name](name, oracle[name], sfdir, outdir, workdir)
            if exp == got:
                print(f"PASS {name}: rows={exp[0]} hash={exp[1]} (sharded fold)")
            else:
                print(f"FAIL {name}: oracle(n,h)={exp} spark(n,h)={got}")
                n_fail += 1
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
