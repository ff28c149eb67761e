"""SFA: Symbolic Fourier Approximation as a fit/transform estimator
(SURVEY §2.4 Q1-Q8).

Reference parity:
  * fit            — SFA.fitWindowing / fitTransformDouble
    (`/root/reference/src/main/java/sfa/transformation/SFA.java:260-291,354-377`):
    train bins on the DFT of DISJOINT windows of every series; orderline
    values rounded to 2 decimals before binning (SFA.java:402).
  * transform      — SFA.transformWindowing (`SFA.java:303-338`):
    sliding MFT → quantize → bit-pack.
  * supervised     — SFASupervised.fitTransform
    (`.../transformation/SFASupervised.java:70-96`): rank coefficients
    by one-way ANOVA F, keep the best `word_length` indices, quantize
    only those (IG binning by default).

Spark shape: fit = pandas-UDF MFT → explode to coefficient long form →
group-aggregate binning (equi-width pure SQL, equi-depth exact
percentile, IG grouped applyInPandas). The fitted model is a tiny bins
table — broadcast into every transform. fit_whole (the index path) is
Python-free: JVM DFT → one aggregate whose boundaries land on the
driver. No driver-side loops over series anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfa_spark.functions import spectral
from sfa_spark.operators import quantize as QZ
from sfa_spark.operators import select as SEL
from sfa_spark.operators import words as WD

HISTOGRAMS = ("equi_depth", "equi_width", "information_gain")


def local_frame(spark, columns: dict[str, list], schema: str) -> DataFrame:
    """A small driver-side table as a JVM LocalRelation (built through
    Arrow): collecting it runs no Spark job and writing it no Python
    worker, unlike createDataFrame over a Python list."""
    return spark.createDataFrame(pd.DataFrame(columns, dtype=object), schema)


@dataclass
class SFAModel:
    word_length: int
    alphabet: int
    window: int
    norm_mean: bool
    lower_bounding: bool
    bins: DataFrame  # (seg int, bins array<double>) — alphabet-1 ascending boundaries
    best_segs: list[int] | None = None  # supervised: kept value indices (rank order)
    fit_l: int | None = None  # supervised: number of Fourier values ranked at fit

    def save(self, path: str) -> None:
        """Persist as parquet (reference uses Kryo; parquet is the
        Spark-native artifact: columnar, schema'd, partition-prunable)."""
        meta = local_frame(
            self.bins.sparkSession,
            {
                "word_length": [self.word_length],
                "alphabet": [self.alphabet],
                "window": [self.window],
                "norm_mean": [self.norm_mean],
                "lower_bounding": [self.lower_bounding],
                "best_segs": [self.best_segs],
                "fit_l": [self.fit_l],
            },
            "word_length int, alphabet int, window int, norm_mean boolean, "
            "lower_bounding boolean, best_segs array<int>, fit_l int",
        )
        self.bins.write.mode("overwrite").parquet(f"{path}/bins")
        meta.write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "SFAModel":
        bins = spark.read.parquet(f"{path}/bins")
        m = spark.read.parquet(f"{path}/meta").collect()[0]
        return cls(
            word_length=m["word_length"],
            alphabet=m["alphabet"],
            window=m["window"],
            norm_mean=m["norm_mean"],
            lower_bounding=m["lower_bounding"],
            bins=bins,
            best_segs=list(m["best_segs"]) if m["best_segs"] is not None else None,
            fit_l=m["fit_l"],
        )


def _disjoint_window_coefs(
    arrays: DataFrame, window: int, word_length: int, norm_mean: bool, lower_bounding: bool
) -> DataFrame:
    """DFT coefficients of all DISJOINT windows (the reference's
    fitWindowing sample set): slice each series into n//w chunks via
    higher-order functions, then one pandas-UDF DFT per chunk."""
    chunks = arrays.select(
        "series_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.size("values") / window).cast("int") - 1),
                lambda i: F.slice("values", i * window + 1, window),
            )
        ).alias("values"),
    ).where(F.size("values") == window)
    # per-chunk z-norm stddev scaling matches the MFT path (normalizeFT);
    # each chunk has length == window, so mft_sliding yields exactly one
    # window per chunk (win=0). series_id is kept so label joins work;
    # duplicate (series_id, win) keys are fine — binning never groups on
    # them.
    return spectral.mft_sliding(
        chunks, w=window, l=word_length,
        norm_mean=norm_mean, lower_bounding=lower_bounding,
    )


def fit(
    arrays: DataFrame,
    window: int,
    word_length: int = 8,
    alphabet: int = 4,
    histogram: str = "equi_depth",
    norm_mean: bool = False,
    lower_bounding: bool = True,
    labels: DataFrame | None = None,
    quantile_error: float = 0.0,
) -> SFAModel:
    """Fit SFA bins on disjoint windows of the corpus.

    histogram: equi_depth (exact percentile, or approx with
    quantile_error>0 at scale), equi_width, or information_gain
    (labels required — grouped applyInPandas recursion).
    Orderline rounding to 2 decimals replicated (SFA.java:402).
    """
    if histogram not in HISTOGRAMS:
        raise ValueError(f"histogram must be one of {HISTOGRAMS}")
    coefs = _disjoint_window_coefs(arrays, window, word_length, norm_mean, lower_bounding)
    long = spectral.coefs_to_long(coefs).withColumn(
        "coef", F.round("coef", 2)  # reference orderline rounding
    )
    if histogram == "equi_width":
        stats = long.groupBy("seg").agg(
            F.min("coef").alias("vmin"), F.max("coef").alias("vmax")
        )
        step = (F.col("vmax") - F.col("vmin")) / alphabet
        bins = stats.select(
            "seg",
            F.when(
                step <= 0, F.array(*[F.lit(float("inf"))] * (alphabet - 1))
            )
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.lit(alphabet - 1)),
                    lambda i: F.col("vmin") + i * step,
                )
            )
            .alias("bins"),
        )
    elif histogram == "equi_depth":
        bins = QZ.fit_equi_depth_bins(long, alphabet, relative_error=quantile_error)
    else:
        if labels is None:
            raise ValueError("information_gain binning needs labels")
        labeled = long.join(labels, "series_id").select("seg", "coef", "label")
        bins = QZ.fit_ig_bins(labeled, alphabet)
    return SFAModel(
        word_length=word_length,
        alphabet=alphabet,
        window=window,
        norm_mean=norm_mean,
        lower_bounding=lower_bounding,
        bins=bins.cache(),
    )


def fit_whole(
    coefs: DataFrame,
    word_length: int = 16,
    alphabet: int = 8,
    histogram: str = "equi_width",
    quantile_error: float = 0.0,
) -> SFAModel:
    """Fit bins on WHOLE-series DFTs (the indexing path: reference
    buildIndexWholeMatching fits on each full series, SFATrie.java:108-133;
    equi-width, alphabet 8 are the trie defaults).

    coefs: whole-series DFTs, a ``coefs`` column of word_length values
    (``spectral.dft(arrays, word_length)``). One aggregate over those
    arrays, collected to the driver:
    per coefficient the min/max of the 2-dp orderline (equi-width), its
    sorted orderline scanned as the reference does (equi-depth), or its
    approximate percentiles (equi-depth with quantile_error > 0). The
    model's bins table is built from those driver-side boundaries."""
    if histogram not in ("equi_width", "equi_depth"):
        raise ValueError("whole-series bins are equi_width or equi_depth")
    # reference orderline rounding (SFA.java:402)
    vals = [F.round(F.element_at("coefs", i + 1), 2) for i in range(word_length)]
    if histogram == "equi_width":
        aggs = [F.array(F.min(v), F.max(v)) for v in vals]
    elif quantile_error > 0:
        qs = F.array(*[F.lit(i / alphabet) for i in range(1, alphabet)])
        acc = max(1, int(1.0 / quantile_error))
        aggs = [F.percentile_approx(v, qs, acc) for v in vals]
    else:
        aggs = [
            QZ.equi_depth_bounds(F.array_sort(F.collect_list(v)), alphabet)
            for v in vals
        ]
    n, *per_coef = coefs.agg(F.count(F.lit(1)), *aggs).first()
    if n == 0:
        raise ValueError("cannot fit SFA bins on an empty input")
    if histogram == "equi_width":
        bins = []
        for vmin, vmax in per_coef:
            step = (vmax - vmin) / alphabet
            bins.append(
                [float("inf")] * (alphabet - 1) if step <= 0
                else [vmin + i * step for i in range(1, alphabet)]
            )
    else:
        bins = [list(b) for b in per_coef]
    return SFAModel(
        word_length=word_length,
        alphabet=alphabet,
        window=0,
        norm_mean=False,
        lower_bounding=True,
        bins=local_frame(
            coefs.sparkSession,
            {"seg": list(range(len(bins))), "bins": bins},
            "seg int, bins array<double>",
        ),
    )


def fit_supervised(
    arrays: DataFrame,
    labels: DataFrame,
    window: int,
    word_length: int = 8,
    alphabet: int = 4,
    histogram: str = "information_gain",
    norm_mean: bool = False,
    lower_bounding: bool = True,
    max_coefs: int = 16,
) -> SFAModel:
    """SFASupervised: ANOVA-F-rank coefficients of the max-length DFT,
    keep the best word_length indices, then bin only those."""
    coefs = _disjoint_window_coefs(arrays, window, max_coefs, norm_mean, lower_bounding)
    long = spectral.coefs_to_long(coefs).withColumn("coef", F.round("coef", 2))
    # cache: consumed by two actions (ANOVA collect + bin fit) — without
    # this the pandas-UDF MFT chain re-executes per action
    labeled = long.join(labels, "series_id").select("seg", "coef", "label").cache()
    f_stats = SEL.anova_f(labeled)
    best = SEL.top_coefficients(f_stats, word_length)
    best_segs = [r["seg"] for r in best.orderBy("rank").collect()]
    # bins are keyed by RANK position (the reference reorders columns to
    # bestValues order before fitting bins, SFASupervised.java:70-96)
    kept = (
        labeled.join(F.broadcast(best.select("seg", "rank")), "seg")
        .select((F.col("rank") - 1).cast("int").alias("seg"), "coef", "label")
    )
    if histogram == "information_gain":
        bins = QZ.fit_ig_bins(kept, alphabet)
    else:
        bins = QZ.fit_equi_depth_bins(kept.select("seg", "coef"), alphabet)
    return SFAModel(
        word_length=word_length,
        alphabet=alphabet,
        window=window,
        norm_mean=norm_mean,
        lower_bounding=lower_bounding,
        bins=bins.cache(),
        best_segs=best_segs,
        fit_l=max_coefs,
    )


def transform_windowing(model: SFAModel, arrays: DataFrame) -> DataFrame:
    """Sliding words for every series: (series_id, win, word bigint).

    MFT (pandas UDF) → coefficient long form → broadcast-bin quantize →
    bit-pack. For supervised models only best_segs are quantized, and
    the packed position is the coefficient's RANK (reference quantizes
    bestValues in rank order, SFASupervised.java:38-54).
    """
    coefs = spectral.mft_sliding(
        arrays,
        w=model.window,
        l=model.fit_l if model.best_segs else model.word_length,
        norm_mean=model.norm_mean,
        lower_bounding=model.lower_bounding,
    )
    long = spectral.coefs_to_long(coefs)
    if model.best_segs is not None:
        spark = arrays.sparkSession
        seg_rank = spark.createDataFrame(
            [(s, i) for i, s in enumerate(model.best_segs)], "seg int, rank int"
        )
        long = (
            long.join(F.broadcast(seg_rank), "seg")
            .drop("seg")
            .withColumnRenamed("rank", "seg")
        )
    sym = QZ.quantize_with_bins(long, model.bins)
    return WD.pack_words(
        sym.select("series_id", "win", "seg", "symbol"), model.alphabet
    )
