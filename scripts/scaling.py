#!/usr/bin/env python
"""N -> 4N scaling probe: one operator, the same job at two core counts.

    python scripts/scaling.py <operator> [n]

No multi-node cluster is at hand, so the north rule's N -> 4N criterion
is evidenced by running the same job at local[N] and local[4N], where
4N is the largest multiple of 4 that fits this process's CPU affinity
set (fewer than 4 cores is an error). Each run is this script
re-invoked as ``--child`` in a fresh JVM, over one corpus the
operator's ``prep`` wrote beforehand (synthesis and a warm-up read stay
outside the timed window). Runs are interleaved, high level first, for
REPS rounds; each timed op's wall is its minimum over a level's reps.

Every operator's result is exact, so each run returns an
order-independent fingerprint of it, and the probe fails unless every
run's fingerprint is identical at both levels: a divergence is a bug,
not noise.

One JSON report goes to stdout: per level the walls of each timed op,
the CPU seconds and peak RSS of the child's process tree (driver, JVM
and Python workers, read by perfbench/procstat.py), and per timed op
the scaling efficiency wall_N / (4 * wall_4N) (target >= 0.8). Corpus
and Spark scratch (SPARK_LOCAL_DIRS, unless already set) live in a
temporary directory removed at exit; nothing is written to the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, PERFBENCH]

REPS = 2


def timed(fn: Callable[[], object]) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return round(time.perf_counter() - t0, 2), out


def write(df, d: str, name: str = "corpus", parts: int = 48) -> None:
    df.repartition(parts).write.mode("overwrite").parquet(os.path.join(d, name))


def read(spark, d: str, name: str = "corpus"):
    df = spark.read.parquet(os.path.join(d, name))
    df.count()  # warm the JVM + page cache so the window measures compute
    return df


def ints(row) -> list[int]:
    return [int(x) for x in row]


def sums(df, *cols) -> list[int]:
    """Order-independent fingerprint: row count, then each column's sum."""
    return ints(df.agg(F.count("*"), *map(F.sum, cols)).collect()[0])


def words(idcol, n):
    """n deterministic tokens w<k> from a 1000-word vocabulary."""
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(F.lit("w"), F.pmod(idcol * 31 + i * 7, F.lit(1000))),
    )


def docs_of(spark, n, text):
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def prep_advisor(spark, n, d):
    # rid is the chunk ordering; vi cycles through a small per-chunk value
    # set (dictionary-friendly), s is a 13-value string cycle with nulls,
    # vl is high-cardinality (unencoded-friendly)
    i = F.col("id")
    s = F.when(i % 17 == 0, None).otherwise(F.concat(F.lit("s"), F.pmod(i, F.lit(13))))
    vi = F.pmod(i * 2654435761 + 11, F.lit(97)).cast("int")
    vl = F.pmod(i * 48271, F.lit(1_000_003))
    write(spark.range(n).select(i.alias("rid"), vi.alias("vi"), s.alias("s"), vl.alias("vl")), d)


def run_advisor(spark, d):
    from hyrise_generalized_dedup_spark.sources.advisor import advise_encodings

    base = read(spark, d)
    wall, rows = timed(
        lambda: advise_encodings(base, "rid", 4096, {"vi": "int", "s": "string", "vl": "long"})
        .groupBy("column_name", "encoding")
        .agg(F.sum("size_in_bytes"), F.sum(F.col("chosen").cast("bigint")), F.count("*"))
        .orderBy("column_name", "encoding")
        .collect()
    )
    return {"advisor": wall}, [[r[0], r[1], *ints(r[2:])] for r in rows]


def prep_allpairs(spark, n, d):
    # doc i: family i div 5, member i mod 5. Text = 3 corpus-wide stopwords
    # + a member-unique variant token + 11 of the family's 12 tokens (member
    # m drops token m): within-family Jaccard 10/14..11/13, cross-family
    # overlap is the stopwords only, so pairs grow linearly in n
    i = F.col("id")
    family = [
        F.when(i % 5 != t, F.concat(F.lit("f"), (i / 5).cast("bigint"), F.lit(f"_t{t}")))
        .otherwise(F.lit(""))
        for t in range(12)
    ]
    text = F.concat_ws(" ", F.lit("the of and"), F.concat(F.lit("v"), i), *family)
    write(docs_of(spark, n, text), d)


def run_allpairs(spark, d):
    from hyrise_generalized_dedup_spark.dedup.allpairs import all_pairs_jaccard

    docs = read(spark, d)
    pair_key = F.col("doc_a") * 7 + F.col("doc_b") * 3
    wall, fp = timed(
        lambda: sums(
            all_pairs_jaccard(docs, threshold_pm=700),
            pair_key, "inter_tokens", "union_tokens", "jaccard_pm",
        )
    )  # fmt: skip
    return {"allpairs": wall}, fp


def prep_classifier(spark, n, d):
    # by id % 3: stopword-dense (confident positive, 20-46 content words),
    # stopword-free (confident negative, 20-59), and a 2-stopword class in
    # the 45-80 pm gap (23-42 words; unlabeled, scored only)
    i = F.col("id")
    dense = F.concat(F.array(*map(F.lit, "a the a the".split())), words(i, (i % 27 + 20).cast("int")))
    gap = F.concat(F.array(F.lit("a"), F.lit("the")), words(i, (i % 20 + 23).cast("int")))
    text = (
        F.when(i % 3 == 0, F.array_join(dense, " "))
        .when(i % 3 == 1, F.array_join(words(i, (i % 40 + 20).cast("int")), " "))
        .otherwise(F.array_join(gap, " "))
    )
    write(docs_of(spark, n, text), d)


def run_classifier(spark, d):
    from hyrise_generalized_dedup_spark.functions import classifier as clf

    docs = read(spark, d)
    # one blob partition per core (get_spark sets 3 x cores of parallelism)
    cores = max(1, spark.sparkContext.defaultParallelism // 3)

    def job():
        features = clf.packed_features(docs, clf.stopword_weak_label())
        packed = clf.csr_blobs(features).coalesce(cores).persist()
        w = clf.train_logreg(packed)
        scored = clf.score_logreg(packed, w)
        fp = sums(scored, "doc_id", "label", "margin_fp", "pred", F.col("doc_id") * F.col("pred"))
        packed.unpersist()
        return {"clf_fp": fp, "weights": [float(x) for x in w]}

    wall, fp = timed(job)
    return {"classifier": wall}, fp


def prep_dsir(spark, n, d):
    # 1-50 tokens per doc; the token stream varies per doc so bigram
    # buckets spread
    i = F.col("id")
    write(docs_of(spark, n, F.array_join(words(i, (i % 50 + 1).cast("int")), " ")), d)


def run_dsir(spark, d):
    from hyrise_generalized_dedup_spark.functions.dsir import dsir_table

    base = read(spark, d)
    cols = ["dsir_n_grams", "dsir_sum_tc", "dsir_sum_rc", "dsir_n_lean"]
    keep = F.col("dsir_keep").cast("long")
    wall, fp = timed(lambda: sums(dsir_table(base), *cols, keep))
    return {"dsir": wall}, fp


def prep_heavy(spark, n, d):
    # 40% of rows land on 50 hot keys, the rest are a near-unique tail:
    # the regime the sketch exists for
    i = F.col("id")
    v = F.when(i % 5 < 2, F.concat(F.lit("hot-"), i % 50)).otherwise(F.concat(F.lit("cold-"), i))
    write(spark.range(n).select(v.alias("v")), d)


def run_heavy(spark, d):
    from hyrise_generalized_dedup_spark.functions.heavy import heavy_hitters

    base = read(spark, d)
    wall, rows = timed(lambda: heavy_hitters(base, "v", k=20, capacity=4096).collect())
    return {"heavy": wall}, [[r["rank"], r["v"], r["n"]] for r in rows]


def prep_histogram(spark, n, d):
    # skewed int key (~1M distinct, zipf-ish via modular squares) + a
    # dense double column
    i = F.col("id")
    k_int = F.pmod(i * i + i * 2654435761, F.lit(1_000_003))
    v_dbl = F.pmod(i * 48271, F.lit(2147483647)).cast("double") / 1e6
    write(spark.range(n).select(i, k_int.alias("k_int"), v_dbl.alias("v_dbl")), d)


def run_histogram(spark, d):
    from hyrise_generalized_dedup_spark.stats import edc_histogram_bins

    base = read(spark, d)

    def job():
        b_int = edc_histogram_bins(base, "k_int", 64).collect()
        b_dbl = edc_histogram_bins(base, "v_dbl", 64).collect()
        return [ints(r) for r in b_int] + [
            [int(a), repr(lo), repr(hi), int(c), int(e)] for a, lo, hi, c, e in b_dbl
        ]

    wall, fp = timed(job)
    return {"histogram": wall}, fp


def prep_lm(spark, n, d):
    # 50 words per doc: 70% of positions from a 200-word head, the rest
    # from a 20k tail, so the model tables stay broadcast-sized like text
    i = F.col("id")
    text = F.transform(
        F.sequence(F.lit(1), F.lit(50)),
        lambda j: F.concat(
            F.lit("w"),
            F.when(F.pmod(F.hash(i * 97 + j * 13), 10) < 7, F.pmod(F.hash(i * 31 + j * 7), 200))
            .otherwise(F.pmod(F.hash(i * 61 + j * 3), 20000) + 1000),
        ),
    )
    write(docs_of(spark, n, F.array_join(text, " ")), d)


def run_lm(spark, d):
    from hyrise_generalized_dedup_spark.functions.lm import lm_score_table

    base = read(spark, d)
    census = {
        "n_docs": F.count("*"),
        "sum_bigrams": F.sum("n_bigrams"),
        "sum_oov": F.sum("n_oov_bigrams"),
        "sum_pair_c": F.sum("sum_pair_c"),
        "sum_ctx_c": F.sum("sum_ctx_c"),
        "n_keep": F.sum(F.col("lm_keep").cast("long")),
    }
    aggs = [c.alias(k) for k, c in census.items()]
    wall, row = timed(lambda: lm_score_table(base).agg(*aggs).collect()[0])
    return {"lm": wall}, row.asDict()


def prep_serving(spark, n, d):
    # 0-199 tokens per doc: the short-doc regime where packing multi-packs
    i = F.col("id")
    write(docs_of(spark, n, F.repeat(F.lit("w "), (i % 200).cast("int"))), d)


def run_serving(spark, d):
    from hyrise_generalized_dedup_spark.functions.pack import pack_table
    from hyrise_generalized_dedup_spark.functions.shuffle import serving_offsets

    base = read(spark, d)
    pack_cols = ["pack_n_tokens", "pack_id", "pack_offset"]
    off_cols = ["srv_n_tokens", "global_pos", "global_token_offset"]
    pack_wall, pack_fp = timed(
        lambda: pack_table(base, capacity=2048, n_shards=64)
        .agg(F.count("*"), *map(F.sum, pack_cols), F.max("pack_id"))
        .first()
    )
    off_wall, off_fp = timed(
        lambda: serving_offsets(base)
        .agg(F.count("*"), *map(F.sum, off_cols), F.max("global_token_offset"))
        .first()
    )
    walls = {"pack": pack_wall, "offsets": off_wall}
    return walls, {"pack_fp": ints(pack_fp), "offsets_fp": ints(off_fp)}


def prep_xcorpus(spark, n, d):
    # train docs are unique (a leading d<id> token) with 20-69 tokens; one
    # eval doc per 1000 train ids: even slots exact copies, odd slots
    # truncated copies (first 14 chars dropped: high but < 1000 Jaccard)
    def doc_text(idcol):
        body = F.array_join(words(idcol, (idcol % 50 + 20).cast("int")), " ")
        return F.concat(F.lit("d"), idcol.cast("string"), F.lit(" "), body)

    i = F.col("id")
    write(spark.range(n).select(i.alias("train_id"), doc_text(i).alias("content")), d, "train")
    copy = F.when(i % 2 == 0, doc_text(i * 1000))
    copy = copy.otherwise(F.substring(doc_text(i * 1000), 15, 1 << 20))
    ev = spark.range(n // 1000).select(i.alias("eval_id"), copy.alias("content"))
    write(ev, d, "eval", parts=1)


def run_xcorpus(spark, d):
    from hyrise_generalized_dedup_spark.config import GDConfig
    from hyrise_generalized_dedup_spark.dedup.xcorpus import fuzzy_pairs

    train, ev = read(spark, d, "train"), read(spark, d, "eval")
    pairs = fuzzy_pairs(
        train, ev, GDConfig(), train_key="train_id", eval_key="eval_id", threshold_pm=700
    )
    cols = ["train_id", "eval_id", "inter_shingles", "union_shingles", "jaccard_pm"]
    wall, fp = timed(lambda: sums(pairs, *cols))
    return {"xcorpus": wall}, fp


def prep_zorder(spark, n, d):
    # two decorrelated integer dims, so the Morton range exchange sees a
    # full 2-D spread, not a diagonal
    i = F.col("id")
    x = F.pmod(i * 2654435761, F.lit(1000003))
    y = F.pmod(i * 40503, F.lit(999983))
    write(spark.range(n).select(i.alias("doc_id"), x.alias("x"), y.alias("y")), d)


def run_zorder(spark, d):
    from hyrise_generalized_dedup_spark.functions.zorder import zorder_layout

    base = read(spark, d)
    laid = os.path.join(d, "laid")
    # the output partition count is fixed, so both levels do the same work
    wall, _ = timed(
        lambda: zorder_layout(base, ["x", "y"], n_partitions=64).write.mode("overwrite").parquet(laid)
    )
    # per-row product reduced mod a prime so the sum stays in int64
    xy = F.pmod(F.col("x") * F.col("y"), F.lit(1_000_000_007))
    fp = sums(spark.read.parquet(laid), "doc_id", "x", "y", xy)
    shutil.rmtree(laid)
    return {"zorder": wall}, fp


def prep_pipeline(spark, n, d):
    from hyrise_generalized_dedup_spark.synth import generate_distributed

    write(generate_distributed(spark, n), d, parts=256)


def run_dedup(spark, d, with_suffix: bool):
    """The full dedup DAG, timed as the pipeline CLI times it; the
    fingerprint covers every (doc_key, cluster_id) row of its clusters."""
    from hyrise_generalized_dedup_spark.config import GDConfig
    from hyrise_generalized_dedup_spark.dedup.pipeline import Checkpointer, run_pipeline
    from hyrise_generalized_dedup_spark.session import shuffle_partitions

    source = spark.read.parquet(os.path.join(d, "corpus")).cache()
    source.count()
    # warm the Python worker pool so its start-up is not billed to the
    # first UDF stage
    spark.range(shuffle_partitions(spark) * 2).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    out = os.path.join(d, "out")
    wall, _ = timed(
        lambda: run_pipeline(spark, source, out, resume=False, with_suffix_stage=with_suffix)
    )
    clusters = Checkpointer(spark, out, GDConfig()).load("clusters")
    row_hash = F.xxhash64("doc_key", "cluster_id").cast("decimal(38,0)")
    fp = ints(clusters.agg(F.count("*"), F.countDistinct("cluster_id"), F.sum(row_hash)).first())
    source.unpersist()
    shutil.rmtree(out)
    return {"pipeline": wall}, fp


class Operator(NamedTuple):
    # (spark, n, dir) -> None: write the corpus under dir, every column a
    # deterministic function of the row id
    prep: Callable
    run: Callable  # (spark, dir) -> ({timed op: wall_s}, fingerprint)
    n: int  # default corpus size


OPERATORS = {
    "advisor": Operator(prep_advisor, run_advisor, 40_000_000),
    "allpairs": Operator(prep_allpairs, run_allpairs, 2_400_000),
    "classifier": Operator(prep_classifier, run_classifier, 400_000),
    "dsir": Operator(prep_dsir, run_dsir, 6_000_000),
    "heavy": Operator(prep_heavy, run_heavy, 32_000_000),
    "histogram": Operator(prep_histogram, run_histogram, 100_000_000),
    "lm": Operator(prep_lm, run_lm, 2_000_000),
    "serving": Operator(prep_serving, run_serving, 16_000_000),
    "xcorpus": Operator(prep_xcorpus, run_xcorpus, 400_000),
    "zorder": Operator(prep_zorder, run_zorder, 40_000_000),
    "pipeline": Operator(prep_pipeline, lambda spark, d: run_dedup(spark, d, False), 200_000),
    "pipeline_suffix": Operator(prep_pipeline, lambda spark, d: run_dedup(spark, d, True), 200_000),
}


def child(name: str, work: str, cores: str, n: str | None = None) -> None:
    """One fresh-JVM run at local[cores]: with ``n``, write the corpus;
    without, run the operator and print its walls, fingerprint and
    process-tree cost as one JSON line."""
    from procstat import TreeSampler

    from hyrise_generalized_dedup_spark.session import get_spark

    c = int(cores)
    spark = get_spark(app_name=f"scaling-{name}", master=f"local[{c}]", shuffle_partitions=3 * c)
    op = OPERATORS[name]
    result = {}
    if n is not None:
        op.prep(spark, int(n), work)
    else:
        with TreeSampler() as tree:
            walls, fp = op.run(spark, work)
        result = {
            "walls_s": walls,
            "fp": fp,
            "cpu_s": round(tree.cpu_s, 1),
            "peak_rss_mb": round(tree.peak_rss_mb),
        }
    spark.stop()
    print(json.dumps(result))


def levels() -> tuple[int, int]:
    cores = len(os.sched_getaffinity(0))
    if cores < 4:
        raise SystemExit(f"scaling probe needs at least 4 cores for N -> 4N, found {cores}")
    return cores // 4, 4 * (cores // 4)


def spawn(name: str, work: str, cores: int, *extra: str) -> dict:
    env = dict(os.environ)
    # the JVM's Python workers import the program too
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, PERFBENCH, env.get("PYTHONPATH")) if p)
    cmd = [sys.executable, os.path.abspath(__file__), "--child", name, work, str(cores), *extra]
    out = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def probe(name: str, n: int) -> dict:
    lo, hi = levels()
    work = tempfile.mkdtemp(prefix=f"scaling_{name}_")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "local"))
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    try:
        spawn(name, work, hi, str(n))
        runs: dict[int, list[dict]] = {hi: [], lo: []}
        for rep in range(REPS):
            for cores in (hi, lo):
                run = spawn(name, work, cores)
                print(f"rep={rep} cores={cores} walls_s={run['walls_s']}", file=sys.stderr)
                runs[cores].append(run)
                if run["fp"] != runs[hi][0]["fp"]:
                    raise SystemExit(
                        f"{name}: fingerprint at {cores} cores, rep {rep}, diverged: "
                        f"{run['fp']} != {runs[hi][0]['fp']}"
                    )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    best = {
        c: {op: min(r["walls_s"][op] for r in rs) for op in rs[0]["walls_s"]}
        for c, rs in runs.items()
    }
    return {
        "operator": name,
        "n": n,
        "reps_per_level": REPS,
        "levels": {
            str(c): {
                "wall_s": best[c],
                "all_walls_s": [r["walls_s"] for r in rs],
                "cpu_s": [r["cpu_s"] for r in rs],
                "peak_rss_mb": [r["peak_rss_mb"] for r in rs],
            }
            for c, rs in sorted(runs.items())
        },
        "scaling_efficiency": {
            op: round(best[lo][op] / ((hi / lo) * best[hi][op]), 3) for op in best[hi]
        },
        "fingerprint": runs[hi][0]["fp"],
    }


def main(argv: list[str]) -> None:
    if argv[:1] == ["--child"]:
        return child(*argv[1:])
    if not 1 <= len(argv) <= 2 or argv[0] not in OPERATORS:
        raise SystemExit(f"usage: scaling.py <operator> [n]; operators: {', '.join(OPERATORS)}")
    n = int(argv[1]) if len(argv) == 2 else OPERATORS[argv[0]].n
    print(json.dumps(probe(argv[0], n), indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
