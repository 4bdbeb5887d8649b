"""API entry points (predict/evaluate) + INI config parity."""

import os

import pytest

from neuroner_spark.config import EngineConfig, load_parameters


def test_predict_returns_entities(spark):
    from neuroner_spark.api import predict
    from neuroner_spark.model.weights import make_bundle

    bundle = make_bundle({"Alice": 1, "met": 2, "Bob": 3}, seed=42)
    out = predict(spark, ["Alice met Bob. Bob left!", "nothing here"], bundle)
    assert isinstance(out, list)
    for e in out:
        assert set(e) == {"doc", "text", "type", "start", "end"}
        assert e["type"] in ("PER", "ORG", "LOC", "MISC")
    # deterministic
    out2 = predict(spark, ["Alice met Bob. Bob left!", "nothing here"], bundle)
    assert out == out2


def _storage_bytes(spark) -> int:
    """Block-manager memory in use across executors, read from the
    status store once the listener bus has delivered every block
    update."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    return sum(execs.apply(i).memoryUsed() for i in range(execs.size()))


def test_predict_broadcasts_the_model_once(spark):
    """Predicts with one bundle reuse its broadcast: storage memory
    after five calls stays within one bundle of the first call's."""
    from neuroner_spark.api import predict
    from neuroner_spark.model.weights import make_bundle

    bundle = make_bundle(1 << 16, seed=42)
    size = sum(a.nbytes for a in bundle["arrays"].values())
    text = "Alice met Bob in Paris. Bob left!"
    first = predict(spark, text, bundle)
    level = _storage_bytes(spark)
    for _ in range(4):
        assert predict(spark, text, bundle) == first
    assert _storage_bytes(spark) - level < size


def test_config_defaults_and_ini(tmp_path):
    cfg = load_parameters()
    assert cfg.use_crf and cfg.tagging_format == "bioes" and cfg.seed == 42
    ini = tmp_path / "parameters.ini"
    ini.write_text(
        "[mode]\ntrain_model = False\nuse_pretrained_model = True\n"
        "[ann]\nuse_crf = false\ntagging_format = bio\n"
        "[training]\ndropout_rate = 0.5\nlearning_rate = 0.005\n"
    )
    cfg2 = load_parameters(str(ini))
    assert cfg2.use_crf is False and cfg2.tagging_format == "bio"
    # unknown reference keys accepted and recorded, not dropped
    assert cfg2.extra["dropout_rate"] == "0.5"
    # CLI override wins (reference main.py behavior)
    cfg3 = load_parameters(str(ini), overrides={"use_crf": "true"})
    assert cfg3.use_crf is True


def test_config_compat_check(tmp_path):
    with pytest.raises(ValueError, match="tagging_format"):
        load_parameters(None, overrides={"tagging_format": "iob2"})
    with pytest.raises(ValueError, match="token_embedding_dimension"):
        load_parameters(None, overrides={"token_embedding_dimension": "300"})


def test_fit_reads_ini_hyperparameters(spark, tmp_path):
    """Entry point 1: fit() consumes the reference INI training keys
    (maximum_number_of_epochs / learning_rate / patience / clip) and
    returns a trained bundle with per-epoch history."""
    import numpy as np
    from pyspark.sql import functions as F

    from neuroner_spark.api import fit
    from neuroner_spark.config import load_parameters
    from neuroner_spark.functions.tags import with_bioes
    from neuroner_spark.model.weights import build_vocab, make_bundle
    from neuroner_spark.plans.catalog_ner import pseudo_tokens

    ini = tmp_path / "parameters.ini"
    ini.write_text(
        "[mode]\nlearning_rate = 0.5\nmaximum_number_of_epochs = 2\n"
        "patience = 2\ngradient_clipping_value = 5.0\n"
    )
    cfg = load_parameters(str(ini))
    toks = pseudo_tokens(spark, "/root/testdata/sf0.001")
    relab = F.regexp_replace("gold", "-OP$", "-PER")
    corpus = with_bioes(toks.withColumn("gold", relab), "gold", "label").select(
        "doc_id", "sent_id", "pos", "token", "label"
    ).limit(600)
    vocab = build_vocab([r["token"] for r in corpus.select("token").collect()])
    bundle = make_bundle(vocab, seed=42)
    res = fit(spark, corpus, bundle, config=cfg, checkpoint_dir=str(tmp_path / "ck"))
    assert len(res["history"]) == 2  # maximum_number_of_epochs from INI
    assert not np.array_equal(res["bundle"]["arrays"]["ff_W"], bundle["arrays"]["ff_W"])
    import os

    assert os.path.isdir(str(tmp_path / "ck" / "epoch_0"))
