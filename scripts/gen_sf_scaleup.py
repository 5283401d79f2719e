"""Generate a synthetic sf1.0 by stacking 10 key-shifted copies of sf0.1.

Referential integrity preserved (all FK columns shift by the same
per-copy offset as their PK); documents get a per-copy marker token so
they are near- (not exact-) duplicates; embeddings get small
deterministic per-copy noise so copies decorrelate slightly.

    SPARK_GRAFT_CPUS=$(nproc) python scripts/gen_sf_scaleup.py

The session is bench.py's (local[$SPARK_GRAFT_CPUS], heap sized from the
host).
"""
import sys, shutil, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

from bench import session

OUT = "/tmp/bdv_sf1"
SRC = "/root/testdata/sf0.1"
K = 1_000_000_000
COPIES = 10

spark = session("bdv-gen-sf-scaleup")

if os.path.isdir(OUT):
    shutil.rmtree(OUT)
os.makedirs(OUT)

SHIFTS = {
    "lineitem": {"l_orderkey": K, "l_partkey": K, "l_suppkey": K},
    "orders": {"o_orderkey": K, "o_custkey": K},
    "customer": {"c_custkey": K},
    "part": {"p_partkey": K},
    "supplier": {"s_suppkey": K},
    "events": {"event_id": K, "user_id": 10_000},
    "documents": {"doc_id": K},
    "embeddings": {"vec_id": K},
}

for t in ["region", "nation"]:
    shutil.copyfile(f"{SRC}/{t}.parquet", f"{OUT}/{t}.parquet")
    print("copied", t)

for t, shifts in SHIFTS.items():
    base = spark.read.parquet(f"{SRC}/{t}.parquet")
    parts = []
    for i in range(COPIES):
        c = base
        for col, unit in shifts.items():
            c = c.withColumn(col, (F.col(col) + F.lit(i * unit)).cast(dict(base.dtypes)[col]))
        if t == "documents" and i > 0:
            # realistic dup rate: ~20% of copies are near-dups of the
            # base doc; the rest get character-reversed text (distinct
            # shingles) so the corpus isn't a wall-to-wall dup family
            c = c.withColumn(
                "text",
                F.when(
                    (F.col("doc_id") % 5) == (i % 5),
                    F.concat(F.col("text"), F.lit(f" copytag{i}")),
                ).otherwise(
                    # per-copy character substitution: distinct shingles
                    # for EVERY copy (reverse() made all non-dup copies
                    # identical to each other — a 7-member dup family)
                    F.concat(
                        F.translate(
                            F.col("text"),
                            "etaoinshrl",
                            "etaoinshrl"[i:] + "etaoinshrl"[:i],
                        ),
                        F.lit(f" var{i}"),
                    )
                ),
            )
        if t == "part" and i > 0:
            # the documents lesson (r7 audit trail below), transplanted:
            # key-shifted part copies kept IDENTICAL p_name strings, so
            # every name-token block in entity linkage was 10x denser —
            # candidate pairs grew ~100x for 10x data, an artifact of
            # the copy scheme, not a scale property (r9: 65x measured).
            # THIRD instance of the class (r11): the r9 fix APPENDED a
            # per-copy " v{i}" tag token — which every part in the copy
            # shares, so each copy planted 50 degenerate (v-tag, size)
            # blocks of ~400 members: ~40M of the 46M candidate pairs
            # measured at sf1 came from the tag alone.  The per-copy
            # character substitution is the decorrelator; the tag is
            # dropped.  Letters also now map to a per-copy DIGIT
            # rotation, so copy vocabularies are provably disjoint
            # (the old letters-within-letters rotation could map a
            # color word onto another valid word).
            digits = "0123456789"
            c = c.withColumn(
                "p_name",
                F.translate(
                    F.col("p_name"),
                    "etaoinshrl",
                    digits[i:] + digits[:i],
                ),
            )
        if t == "embeddings":
            c = c.withColumn(
                "embedding",
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x, j: (x + ((F.lit(i * 31) + j) % 7 - 3).cast("double") * 0.01).cast("float"),
                ).cast("array<float>"),
            )
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # single FILE per table, matching the real testdata layout (the
    # streaming entries symlink {sf_dir}/{table}.parquet as a file)
    import glob as _g
    tmp = f"{OUT}/_tmp_{t}"
    out.coalesce(1).write.parquet(tmp)
    part = _g.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, f"{OUT}/{t}.parquet")
    shutil.rmtree(tmp)
    n = spark.read.parquet(f"{OUT}/{t}.parquet").count()
    print("wrote", t, n)
print("DONE")
