"""Write-with-audit: observed metrics match recomputed ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshells_spark.operators.observe import audit_metrics, write_parquet_with_audit


def test_observed_metrics_match_ground_truth(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    metrics = audit_metrics(["user_id", "value"]) + [
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    ]
    out = str(tmp_path / "audited")
    got = write_parquet_with_audit(ev, out, metrics)

    truth = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("nu"),
        F.min("event_id").alias("mn"),
        F.max("event_id").alias("mx"),
    ).collect()[0]
    assert got["n_rows"] == truth["n"]
    assert got["nulls_user_id"] == truth["nu"]
    assert (got["min_id"], got["max_id"]) == (truth["mn"], truth["mx"])

    # the write really happened and round-trips
    assert spark.read.parquet(out).count() == truth["n"]


def test_empty_write_refused(spark, tmp_path):
    df = spark.createDataFrame([], "a long")
    with pytest.raises(ValueError, match="0 rows"):
        write_parquet_with_audit(df, str(tmp_path / "e"), audit_metrics())


def test_observe_does_not_poison_mllib_transforms(spark, tmp_path):
    # Spark 4.1: the first observe() lazily creates the session's
    # (non-serializable) ObservationManager; a summary-carrying model
    # then dies serializing its transform closure. Our fits strip the
    # summary (ml/mllib_compat.py) — pin the combination explicitly.
    ev = spark.createDataFrame([(1, "a")], "id long, t string")
    write_parquet_with_audit(ev, str(tmp_path / "w"), audit_metrics())

    from redshells_spark.text.quality_model import train_quality_classifier

    docs = spark.createDataFrame(
        [(i, ["good", "text", "words"], 1.0) if i % 2 else (i, ["bad", "bad"], 0.0)
         for i in range(40)],
        "doc_id long, tokens array<string>, label double",
    )
    model = train_quality_classifier(docs)
    assert not model.stages[-1].hasSummary
    assert model.transform(docs.select("doc_id", "tokens")).count() == 40


def test_summary_models_transform_after_observe(spark):
    """Spark 4.1 landmine regression pin (ml/mllib_compat.py): after ANY
    df.observe() has run, serializing a summary-carrying MLlib model's
    transform closure throws NotSerializableException
    (ObservationManager). Every summary-capable fit site must strip —
    this exercises the FM path that slipped through in round 4."""
    from pyspark.sql.observation import Observation

    from redshells_spark.ml.factorization_machine import (
        train_factorization_machine,
    )

    obs = Observation("poison")
    df = spark.createDataFrame([(1,)], "a long").observe(obs, F.count(F.lit(1)))
    df.collect()  # ObservationManager now exists in the session

    train = spark.createDataFrame(
        [(0.1 * i, i % 3, float(i % 2)) for i in range(40)],
        "x double, c long, label double",
    )
    m = train_factorization_machine(
        train, ["x"], ["c"], label_column="label", max_iter=2
    )
    assert m.transform(train).count() == 40  # would throw before the strip

    # CrossValidator's fold models keep summaries strip_training_summary
    # cannot reach; cross-validation must still run after an observe()
    from redshells_spark.ml.classifiers import validate_classifier

    res = validate_classifier(
        train.withColumnRenamed("label", "y"), ["x"], "y", "LogisticRegression", cv=2
    )
    assert res["metric"] == "accuracy" and 0.0 <= res["avg"] <= 1.0
