"""Per-layer sweep for the traced run: one timed call into each layer's
public functions, made from outside the engine.

Each step first materialises and caches its input (untimed, job group
``<workload>:prep:<layer>``), then times the layer's call plus the
action that materialises its output (job group
``<workload>:<call>:<layer>``). The parent process attributes Spark
jobs to a step by the step's wall-clock window in the event log.
"""

from __future__ import annotations

import os
import shutil
import time


def epoch_ms() -> int:
    """Wall clock in the event log's unit (epoch milliseconds)."""
    return int(time.time() * 1000)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cached(df):
    df = df.cache()
    df.count()
    return df


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def _stream_source(spark, data_dir: str, scratch: str) -> str:
    """The changelog of users 0-19 as four time slices, one file each,
    delivered in time order, so the sink sees four micro-batches."""
    from pyspark.sql import functions as F

    from sfa_spark.sources.events import load_table

    small = load_table(spark, data_dir, "events").where(F.col("user_id") < 20).cache()
    q = small.approxQuantile("ts", [0.25, 0.5, 0.75], 0.0)
    slice_no = (
        F.when(F.col("ts") < q[0], 0)
        .when(F.col("ts") < q[1], 1)
        .when(F.col("ts") < q[2], 2)
        .otherwise(3)
    )
    src = os.path.join(scratch, "scd2_src")
    os.makedirs(src)
    now = time.time()
    for i in range(4):
        stage = os.path.join(scratch, f"scd2_stage_{i}")
        small.where(slice_no == i).coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        path = os.path.join(src, f"slice_{i}.parquet")
        os.rename(os.path.join(stage, part), path)
        os.utime(path, (now - 40 + 10 * i,) * 2)  # arrival order = time order
        shutil.rmtree(stage)
    small.unpersist()
    return src


def steps(spark, data_dir: str, scratch: str):
    """Yield ``(layer, call, prepare, run)``; ``prepare()`` returns the
    cached inputs, ``run(inputs)`` returns a dict of extra measures."""
    from pyspark.sql import functions as F

    import sfa_spark.queries as Q
    import sfa_spark.queries_index as QI
    import sfa_spark.queries_ml as QML
    import sfa_spark.queries_text as QT
    from sfa_spark.functions import spectral
    from sfa_spark.ml import classifiers as C
    from sfa_spark.operators import bags, dedup, knn, quantize, similarity, tfidf, words
    from sfa_spark.sources.events import (
        load_table,
        series_arrays_from_events,
        series_from_events,
    )
    from sfa_spark.streaming import sinks

    def events():
        return load_table(spark, data_dir, "events")

    def sources(_):
        _noop(series_from_events(events()))
        _noop(series_arrays_from_events(events()))

    yield (
        "sources",
        "load_table+series_from_events+series_arrays_from_events",
        lambda: None,
        sources,
    )

    yield (
        "operators.window",
        "coef_df",
        lambda: _cached(Q.series_df(spark, data_dir)),
        lambda _: _noop(Q.coef_df(spark, data_dir)),
    )

    def word_call(coef):
        sym = quantize.equi_width_symbols(coef, Q.A)
        _noop(words.pack_words(sym.select("series_id", "win", "seg", "symbol"), Q.A))

    yield (
        "operators.words",
        "equi_width_symbols+pack_words",
        lambda: _cached(Q.coef_df(spark, data_dir)),
        word_call,
    )
    yield (
        "operators.bags",
        "numerosity_reduce+bag_of_words",
        lambda: _cached(Q.words_df(spark, data_dir)),
        lambda wd: _noop(bags.bag_of_words(bags.numerosity_reduce(wd))),
    )

    def split_bags():
        bag = _cached(Q.bag_df(spark, data_dir))
        test = bag.where(F.col("series_id") % Q.TEST_MOD == 0)
        train = bag.where(F.col("series_id") % Q.TEST_MOD != 0)
        return train, test

    def tfidf_call(split):
        train, test = split
        model = tfidf.fit_tfidf(train.withColumn("label", Q._label()), n_classes=Q.N_LABELS)
        _noop(tfidf.score_tfidf(test, model))

    yield "operators.tfidf", "fit_tfidf+score_tfidf", split_bags, tfidf_call

    def knn_call(split):
        train, test = split
        _noop(
            knn.boss_1nn_blocked(
                test,
                train,
                n_chunks=Q._adaptive_chunks(spark, data_dir),
                assume_dense_vocab=True,
            )
        )

    yield "operators.knn", "boss_1nn_blocked", split_bags, knn_call

    def corpus():
        train_a, labels, test_a = QML._corpus(spark, data_dir)
        train_l = _cached(labels.join(train_a.select("series_id"), "series_id"))
        return train_a, train_l, test_a

    def weasel_call(c):
        train_a, train_l, test_a = c
        model = C.weasel_fit(
            train_a, train_l, windows=[16], word_length=4, alphabet=4, max_iter=15
        )
        _noop(C.weasel_predict(model, test_a, with_scores=True))

    yield "ml", "weasel_fit+weasel_predict", corpus, weasel_call

    yield (
        "functions",
        "mft_sliding",
        lambda: _cached(series_arrays_from_events(events()).where(F.size("values") >= 16)),
        lambda arr: _noop(spectral.mft_sliding(arr, w=16, l=4, norm_mean=True)),
    )

    def index_inputs():
        arrays = _cached(QI._vec_arrays(spark, data_dir))
        return arrays, _cached(arrays.where(F.col("series_id") < QI.IDX_QUERIES))

    def index_call(inputs):
        _, queries = inputs
        idx = QI._index(spark, data_dir)  # SFAIndex.build over the cached arrays
        written = dir_bytes(idx.path)
        t0 = epoch_ms()
        knn_rows = len(idx.knn(queries, k=QI.IDX_K).collect())
        knn_window = [t0, epoch_ms()]
        _noop(idx.range_search(queries, epsilon=QI.RANGE_EPS))
        return {"knn_rows": knn_rows, "knn_window": knn_window, "bytes_written": written}

    yield "plans.index", "SFAIndex.build+knn+range_search", index_inputs, index_call

    def cosine_call(emb):
        queries = emb.where(F.col("vec_id") < QT.COS_QUERIES)
        _noop(similarity.cosine_topk(queries, emb, k=QT.COS_K))

    yield (
        "operators.similarity",
        "cosine_topk",
        lambda: _cached(load_table(spark, data_dir, "embeddings")),
        cosine_call,
    )

    def dedup_call(docs):
        sig = dedup.minhash_signatures(docs, n_seeds=8, k=3)
        _noop(dedup.lsh_candidate_pairs(sig, band_size=2))
        _noop(dedup.simhash(docs))

    yield (
        "operators.dedup",
        "minhash+lsh_candidate_pairs+simhash",
        lambda: _cached(load_table(spark, data_dir, "documents")),
        dedup_call,
    )

    def sink_call(src):
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        state = os.path.join(scratch, "scd2_state")
        q = sinks.scd2_sink(stream, state)
        q.awaitTermination(300)
        if q.exception() is not None:
            raise RuntimeError(f"scd2_sink failed: {q.exception()}")
        return {"bytes_written": dir_bytes(state), "input_bytes": dir_bytes(src)}

    yield (
        "streaming.sinks",
        "scd2_sink",
        lambda: _stream_source(spark, data_dir, scratch),
        sink_call,
    )
