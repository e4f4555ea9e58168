"""``munge``: the reference's recipe chain over the dirty Medicare-shaped CSV.

One operation is one full pass: CSV scan and columnar materialization →
invalid-value report and validation summary → Bernoulli, by-key and
fixed-N samples → percentile bucketing → per-provider bucket-count
feature matrix → PCA fit and projection.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np

import gen_munge
import ref

#: Rows per size. ``bench`` is a sixteenth of the reference file's 733,917
#: rows so that a run (JVM start, warm-up passes, timed passes) fits the
#: benchmark's time budget; the chain and its dirt are unchanged.
SIZES = {"bench": gen_munge.FULL_ROWS // 16, "tiny": 3000}
KEY_PERCENT = 20
#: The by-key sampler keeps keys whose md5 hex prefix is at most this.
KEY_HEX = format(round(KEY_PERCENT / 100 * 256) - 1, "02x")
BERNOULLI = 0.1
PCA_K = 3


def fixed_n(rows: int) -> int:
    return max(1, rows // 50)


def generate(out_dir: str, seed: int, size: str) -> dict:
    meta = gen_munge.generate(out_dir, seed, SIZES[size])
    truth = os.path.join(out_dir, "truth.npz")
    with np.load(truth) as t:
        meta["expected"] = ref.munge_expected(
            t["npi"], t["hcpcs"], t["srvc"], gen_munge.HCPCS_RE, KEY_HEX, PCA_K
        )
    os.remove(truth)
    meta["shares"] = gen_munge.SHARES
    return meta


def check(got: dict, exp: dict) -> list[str]:
    """Compare one pass's outputs with the reference's expected answers."""
    fails = []
    if got["invalid_counts"] != exp["invalid_counts"]:
        fails.append(f"invalid-value report {got['invalid_counts']}")
    want = (exp["rows"], exp["invalid_rows"], exp["empty_npi_rows"])
    if tuple(got["summary"]) != want:
        fails.append(f"validation summary {got['summary']} != {want}")
    mean = BERNOULLI * exp["rows"]
    if abs(got["bernoulli"] - mean) > 6 * math.sqrt(mean * (1 - BERNOULLI)) + 1:
        fails.append(f"bernoulli sample size {got['bernoulli']}, expected ~{mean}")
    want = (exp["key_sample_rows"], exp["key_sample_keys"],
            exp["key_sample_npi_sum"])
    if tuple(got["by_key"]) != want:
        fails.append(f"by-key sample {got['by_key']} != {want}")
    if got["fixed_n"] != fixed_n(exp["rows"]):
        fails.append(f"fixed-N sample has {got['fixed_n']} rows")
    if got["buckets"] != exp["bucket_counts"]:
        fails.append(f"bucket counts {got['buckets']} != {exp['bucket_counts']}")
    if got["providers"] != exp["providers"]:
        fails.append(f"{got['providers']} providers, expected {exp['providers']}")
    ev, want_ev = np.asarray(got["pca_ev"]), np.asarray(exp["pca_explained_variance"])
    if ev.shape != want_ev.shape or np.max(np.abs(ev - want_ev)) > 1e-6:
        fails.append(f"PCA explained variance {ev} != {want_ev}")
    if got["projected"] != got["providers"]:
        fails.append(f"projected {got['projected']} rows of {got['providers']}")
    return fails


class Munge:
    #: one untimed pass compiles the chain's plans
    warmup_ops = 1

    def __init__(self, ctx):
        from pyspark.sql.types import StringType, StructField, StructType

        self.ctx = ctx
        self.exp = ctx.meta["expected"]
        self.schema = StructType(
            [StructField(c, StringType()) for c in gen_munge.COLUMNS]
        )

    def setup(self) -> list[str]:
        """Nothing to build: every pass starts from the CSV."""
        return []

    def op(self, i: int) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        ctx, dm, tr = self.ctx, self.ctx.dm, self.ctx.tracer
        spark, seed, got = ctx.spark, ctx.seed, {}
        out = ctx.run.sub(f"munge-{i}")
        try:
            with tr.span("sources", "read_csv+materialize_columnar") as src:
                raw = dm.sources.read_csv(
                    spark, os.path.join(ctx.inputs, "medicare"), self.schema
                )
                framing = F.coalesce(
                    ~F.col("npi").startswith("Copyright"), F.lit(True)
                )
                dm.sources.materialize_columnar(
                    raw.filter(framing).drop("_corrupt_record"), out
                )
                t = spark.read.parquet(out)

            rule = dm.quality.regex_rule(
                "hcpcs_fmt", "hcpcs_code", gen_munge.HCPCS_RE
            )
            npi_rule = dm.quality.not_empty_rule("npi_present", "npi")
            with tr.span("quality", "invalid_value_report+validation_summary") as sp:
                inv = dm.quality.invalid_value_report(t, rule, "hcpcs_code")
                got["invalid_counts"] = {r[0]: r[1] for r in inv.collect()}
                summ = dm.quality.validation_summary(t, [rule, npi_rule]).first()
                got["summary"] = (summ["total_rows"], summ["hcpcs_fmt_failed"],
                                  summ["npi_present_failed"])
                sp.rows_out = len(got["invalid_counts"]) + 1
            src.rows_out = got["summary"][0]  # rows materialized

            with tr.span("sampling", "bernoulli+by_key+fixed_n") as sp:
                got["bernoulli"] = dm.sampling.bernoulli_sample(
                    t, BERNOULLI, seed).count()
                got["by_key"] = tuple(dm.sampling.sample_by_key(
                    t, "npi", KEY_PERCENT).agg(
                    F.count(F.lit(1)),
                    F.countDistinct("npi"),
                    F.sum(F.col("npi").cast("long")),
                ).first())
                got["fixed_n"] = dm.sampling.sample_n(
                    t, fixed_n(self.exp["rows"]), seed=seed).count()
                sp.rows_out = got["bernoulli"] + got["by_key"][0] + got["fixed_n"]

            with tr.span("relational", "percentile_bucketize+pivot_table") as sp:
                clean = t.filter(rule.predicate & npi_rule.predicate).withColumn(
                    "srvc", dm.functions.cast_int_hive("line_srvc_cnt")
                )
                bk = dm.relational.percentile_bucketize(
                    clean, "hcpcs_code", "srvc", ["npi"]
                ).localCheckpoint()
                got["buckets"] = {
                    r[0]: r[1] for r in bk.groupBy("bucket").count().collect()
                }
                feats = dm.relational.pivot_table(
                    bk, ["npi"], "bucket", list(ref.LABELS), F.count(F.lit(1))
                ).na.fill(0)
                feats = feats.select(
                    "npi",
                    F.array(*[F.col(c).cast("double") for c in ref.LABELS]).alias(
                        "embedding"
                    ),
                ).localCheckpoint()
                got["providers"] = feats.count()
                sp.rows_out = sum(got["buckets"].values()) + got["providers"]

            with tr.span("ml", "fit_pca+pca_project") as sp:
                model = dm.ml.fit_pca(feats, "embedding", k=PCA_K)
                got["pca_ev"] = model.explainedVariance.toArray().tolist()
                got["projected"] = dm.ml.pca_project(model, feats).count()
                sp.rows_out = got["projected"]
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return self.exp["rows"], check(got, self.exp)

    def extras(self) -> dict:
        return {}
