"""Build a 10x-amplified copy of a driver fixture directory — the
"one decade up" landing for scale probing (VERDICT r6 task 7).

Usage: python tools/amplify_fixture.py [src_sf_dir] [out_dir] [factor]
Defaults: the sf0.1 fixture, `.scratch/sf1x` under the checkout, 10

Amplification must preserve each query's CANDIDATE-SET GROWTH LAW, not
just its row count: naively replicating documents verbatim makes every
doc a 10-way exact-duplicate group, which manufactures a quadratic
pair blowup (45 extra pairs per doc) that no real corpus growth
produces. The first cut of this tool appended ONE replica token per
text — measured: containment/Jaccard sets still overlapped ~98%
across replicas and `containment_dedup_pairs` blew up 512 -> 736k
pairs at 100x. A replica must diverge in the SET/SHINGLE metric every
dedup operator measures, while keeping WITHIN-replica structure (the
real dup/neighbor pairs) intact:

- documents: doc_id += k*10_000_000; for k > 0 every SECOND token gets
  a replica-unique suffix. Cross-replica token-set Jaccard drops to
  ~1/3 and every 3-token shingle window contains a tagged position, so
  cross-replica shingle Jaccard ~0 — replicas are not near-dups of
  each other. Within a replica all docs are tagged at the same
  positions, so aligned near-dup pairs keep their similarity: pair
  counts grow ~10x like a real corpus.
- embeddings: vec_id += k*10_000_000; for k > 0 a k-keyed
  pseudo-random SIGN-FLIP mask over dimensions. A diagonal +-1 matrix
  is orthogonal: WITHIN-replica pairwise cosines are preserved
  EXACTLY (the ANN/semantic-dedup structure), while cross-replica
  cosines collapse toward 0 (masks differ on ~half the mass) — no
  manufactured semantic duplicates.
- events: event_id += k*10_000_000, user_id += k*1_000_000 (new users,
  so sessions/windows scale linearly), ts += k days.
- orders/lineitem: orderkey += k*100_000_000 on BOTH tables (FK kept
  consistent); custkey/partkey/suppkey untouched — each dim row simply
  sees 10x the facts, which is exactly what a 100 TB fact table does
  to an unchanged dimension.
- region/nation/customer/supplier/part: copied verbatim (dimensions).

Each replica lands as its own part file under {table}.parquet/ (a
directory Spark reads natively), so the amplified scan starts with
10-way split parallelism instead of one giant row group.

Build is flock-guarded and marker-checked (the shared-scratch
discipline from plans/scale_patterns.py): concurrent probes never race
a half-written landing, and an existing complete build is never
rewritten.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import sys

import duckdb

TABLES_VERBATIM = ["region", "nation", "customer", "supplier", "part"]

# table -> SQL template per replica; {k} is the replica index (0 = the
# original rows, untouched so the 1x subset is bit-identical).
AMPLIFY_SQL = {
    "documents": """
        WITH sp AS (
            SELECT doc_id, string_split(text, ' ') AS toks, lang, source
            FROM src
        )
        SELECT doc_id + {k} * 10000000 AS doc_id,
               CASE WHEN {k} = 0
                    THEN array_to_string(toks, ' ')
                    ELSE array_to_string(
                        list_transform(range(1, len(toks) + 1),
                            i -> CASE WHEN i % 2 = 0
                                 THEN toks[i] || 'q{k}'
                                 ELSE toks[i] END),
                        ' ')
               END AS text,
               lang, source,
               CAST(length(CASE WHEN {k} = 0
                    THEN array_to_string(toks, ' ')
                    ELSE array_to_string(
                        list_transform(range(1, len(toks) + 1),
                            i -> CASE WHEN i % 2 = 0
                                 THEN toks[i] || 'q{k}'
                                 ELSE toks[i] END),
                        ' ')
               END) AS BIGINT) AS n_chars
        FROM sp
    """,
    "embeddings": """
        SELECT vec_id + {k} * 10000000 AS vec_id,
               CASE WHEN {k} = 0 THEN embedding
                    ELSE list_transform(range(1, len(embedding) + 1),
                        i -> CAST(CASE WHEN
                                (i * 1103515245 + {k} * 12345) % 97 < 48
                              THEN -embedding[i]
                              ELSE embedding[i] END AS FLOAT))
               END AS embedding,
               label
        FROM src
    """,
    "events": """
        SELECT event_id + {k} * 10000000 AS event_id,
               ts + INTERVAL ({k}) DAY AS ts,
               user_id + {k} * 1000000 AS user_id,
               event_type, value, props
        FROM src
    """,
    "orders": """
        SELECT o_orderkey + {k} * 100000000 AS o_orderkey,
               * EXCLUDE (o_orderkey)
        FROM src
    """,
    "lineitem": """
        SELECT l_orderkey + {k} * 100000000 AS l_orderkey,
               * EXCLUDE (l_orderkey)
        FROM src
    """,
}


def build(src_dir: str, out_dir: str, factor: int = 10) -> str:
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    lockpath = out_dir + ".lock"
    marker = out_dir + ".complete"
    with open(lockpath, "w") as lockf:
        fcntl.flock(lockf, fcntl.LOCK_EX)
        if os.path.exists(marker):
            return out_dir  # never rewrite a complete landing
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)  # half-written remnant
        os.makedirs(out_dir)
        con = duckdb.connect()
        for t in TABLES_VERBATIM:
            shutil.copy(f"{src_dir}/{t}.parquet", f"{out_dir}/{t}.parquet")
        for t, tmpl in AMPLIFY_SQL.items():
            tdir = f"{out_dir}/{t}.parquet"
            os.makedirs(tdir)
            con.execute(
                f"CREATE OR REPLACE VIEW src AS "
                f"SELECT * FROM read_parquet('{src_dir}/{t}.parquet')"
            )
            for k in range(factor):
                sql = tmpl.format(k=k, taglen=len(f" zq{k}rep"))
                con.execute(
                    f"COPY ({sql}) TO '{tdir}/part-{k:02d}.parquet' "
                    f"(FORMAT PARQUET, COMPRESSION SNAPPY)"
                )
        con.close()
        with open(marker, "w") as m:
            m.write(f"src={src_dir} factor={factor}\n")
    return out_dir


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from steam_prices_data_engineering_spark import SCRATCH_DIR

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(SCRATCH_DIR, "sf1x")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    print(build(src, out, factor))
