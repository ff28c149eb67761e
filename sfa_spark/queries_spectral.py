"""Spectral driver queries. The DFT/MFT oracles recompute the
coefficients as explicit trig sums in DuckDB. For the MFT that is a
CROSS-IMPLEMENTATION check: Spark runs numpy (r)FFT inside a pandas UDF,
so agreement validates the transform itself, not just expression
mirroring. The whole-series DFT is itself a JVM trig-sum expression
(functions/spectral.dft); its unit tests hold it to the numpy rfft
reference (spectral.dft_values).

r4: q_sfa_words_dft (full MFT → 2-dp orderline → equi-depth → quantize
→ pack → bag pipeline) and q_dwt_coefs (Haar as closed-form block
sums) gained full SQL oracles; r5 closed the last gap — q_apca_segments'
greedy merge is mirrored exactly by a recursive-CTE oracle, so every
query in this module is hash-match gated.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sfa_spark.functions import spectral
from sfa_spark.operators import bags, sfa
from sfa_spark.queries import rnd, series_df
from sfa_spark.sources.events import (
    load_table,
    series_arrays_from_events,
)

DFT_L = 8      # whole-series DFT: coefficients 1..4 (8 interleaved values)
MFT_W = 16     # sliding MFT window
MFT_L = 4      # values per window (coefficients 1..2, norm_mean drops DC)


def _arrays(spark, sf_dir):
    # direct events→arrays gather (r8): same values/ordering as
    # series_to_arrays(series_df(...)), minus the row_number Sort +
    # two WindowExecs — see series_arrays_from_events
    return series_arrays_from_events(load_table(spark, sf_dir, "events"))


def q_dft_coefs(spark, sf_dir):
    arr = _arrays(spark, sf_dir)
    coefs = spectral.dft(arr, DFT_L, pad_pow2=True)
    return spectral.coefs_to_long(coefs).select(
        "series_id", "seg", rnd("coef", 4).alias("coef")
    )


def q_mft_sliding(spark, sf_dir):
    arr = _arrays(spark, sf_dir).where(F.size("values") >= MFT_W)
    coefs = spectral.mft_sliding(arr, w=MFT_W, l=MFT_L, norm_mean=True)
    return spectral.coefs_to_long(coefs).select(
        "series_id", "win", "seg", rnd("coef", 4).alias("coef")
    )


def q_pla_segments(spark, sf_dir):
    """PLA (T9) in PURE SQL: least-squares slope/intercept per
    half-series segment via covar_pop/var_pop — no UDF at all."""
    from sfa_spark.queries import rnd, series_df

    s = series_df(spark, sf_dir)
    seg = F.when(F.col("pos") * 2 < F.col("n"), 0).otherwise(1).cast("int")
    seg_start = F.when(F.col("seg") == 0, 0).otherwise(
        (F.col("n") / 2).cast("bigint")
    )
    d = s.withColumn("seg", seg).withColumn("x", (F.col("pos") - seg_start).cast("double"))
    agg = d.groupBy("series_id", "seg").agg(
        F.covar_pop("x", "value").alias("cxy"),
        F.var_pop("x").alias("vx"),
        F.avg("x").alias("mx"),
        F.avg("value").alias("my"),
    )
    slope = F.when(F.col("vx") < 1e-12, F.lit(0.0)).otherwise(
        F.col("cxy") / F.col("vx")
    )
    return agg.select(
        "series_id",
        "seg",
        rnd(slope, 4).alias("slope"),
        rnd(F.col("my") - slope * F.col("mx"), 4).alias("icept"),
    )


def q_dwt_coefs(spark, sf_dir):
    """Haar DWT coefficients per series (SQL oracle: closed-form block
    sums; orthonormality and LB property in tests/test_representations)."""
    from sfa_spark.functions import representations as R
    from sfa_spark.queries import rnd

    arr = _arrays(spark, sf_dir)
    t = R.transform(arr, "dwt", 8)
    return spectral.coefs_to_long(t).select(
        "series_id", "seg", rnd("coef", 4).alias("coef")
    )


def q_apca_segments(spark, sf_dir):
    """APCA adaptive segments per series. The greedy bottom-up merge is
    sequential per series (grouped pandas UDF) — long believed
    non-SQL-expressible, but it is merely ITERATIVE: the r5 oracle
    replays the exact merge schedule as a DuckDB recursive CTE (one
    globally-cheapest adjacent merge per series per iteration, same
    IEEE cost expressions, same lo tie-break), upgrading this query
    from rows-only to a full hash-match gate row."""
    from sfa_spark.functions import representations as R
    from sfa_spark.queries import rnd

    arr = _arrays(spark, sf_dir)
    t = R.transform(arr, "apca", 8)
    return spectral.coefs_to_long(t).select(
        "series_id", "seg", rnd("coef", 4).alias("coef")
    )


def q_sfa_words_dft(spark, sf_dir):
    """Full SFA: equi-depth bins fitted on disjoint windows → sliding
    words → bags. SQL oracle mirrors every stage (trig-sum MFT, 2-dp
    orderline, reference equi-depth scan, quantize, pack, bag)."""
    # persist (r8): the array form feeds both the bin fit (disjoint
    # chunks) and the sliding transform — one gather instead of two
    # (the events→series window chain + collect_list ran twice).
    arr = _arrays(spark, sf_dir).where(F.size("values") >= MFT_W).persist()
    model = sfa.fit(
        arr, window=MFT_W, word_length=MFT_L, alphabet=4,
        histogram="equi_depth", norm_mean=True,
    )
    wd = sfa.transform_windowing(model, arr)
    return bags.bag_of_words(bags.numerosity_reduce(wd))
