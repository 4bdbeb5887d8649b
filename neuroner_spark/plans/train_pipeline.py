"""Training-run lifecycle (reference entry point 1, end to end).

Reference parity: ``src/neuroner.py :: fit`` writes an output tree per
run — per-epoch checkpoints, per-split prediction files
(``src/train.py :: prediction_step`` K1 writer), and ``results.json``
(``src/evaluate.py :: save_results`` K3 sink).  This module produces
the same tree from the distributed trainer:

    <out_dir>/
      checkpoints/epoch_<n>/   weights.npz + vocab/labels/meta json (K4)
      predictions/valid/       tagged valid split, parquet (K1 canonical)
      predictions/valid_conll/ CoNLL text render of the same (K1 golden)
      metrics/                 conlleval F1 table, parquet (K3)
      results.json             history + best epoch + final F1s (K3)
      results_conlleval.txt    canonical conlleval text report (F5)
      tensorboard/             TB scalar event file, loss/valid-F1
                               per epoch (K5, dependency-free writer)
      plots/                   classification-report + confusion
                               heatmaps, SVG (K3 plot half,
                               utils_plots.py parity — no matplotlib
                               in this container)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neuroner_spark.io import write_table


def run_training_run(
    spark: SparkSession,
    train_tokens: DataFrame,
    valid_tokens: DataFrame,
    bundle: dict,
    out_dir: str,
    config=None,
    **fit_overrides,
) -> dict:
    """Train + evaluate + materialize the run tree.  Returns
    {'bundle', 'history', 'best_epoch', 'valid_f1', 'out_dir'}."""
    from neuroner_spark.api import fit
    from neuroner_spark.model.train import tag_and_join_gold
    from neuroner_spark.operators.metrics import conlleval_f1
    from neuroner_spark.sources.conll import write_conll

    os.makedirs(out_dir, exist_ok=True)
    res = fit(
        spark,
        train_tokens,
        bundle,
        valid_tokens=valid_tokens,
        config=config,
        checkpoint_dir=os.path.join(out_dir, "checkpoints"),
        **fit_overrides,
    )
    best = res["bundle"]

    # K1: tag the valid split with the best model and materialize both
    # the canonical parquet and the conlleval-compatible text render.
    # Decode mode matches the trained objective (same contract as the
    # per-epoch early-stopping evaluation — shared helper).
    joined = tag_and_join_gold(
        spark, valid_tokens, best, use_crf=(res.get("loss_mode") == "crf")
    )
    pred_dir = os.path.join(out_dir, "predictions", "valid")
    preds = write_table(joined, pred_dir)
    write_conll(
        preds.select("doc_id", "sent_id", "pos", "token", F.col("gold").alias("label"), "pred"),
        os.path.join(out_dir, "predictions", "valid_conll"),
        label_cols=("label", "pred"),
    )

    # K3: metrics table + results.json
    f1_df = write_table(conlleval_f1(preds, "gold", "pred"), os.path.join(out_dir, "metrics"))
    f1_rows = {r["type"]: r.asDict() for r in f1_df.collect()}
    results = {
        "history": res["history"],
        "best_epoch": res["best_epoch"],
        "valid_f1": f1_rows.get("ALL", {}).get("f1", 0.0),
        "per_type": {t: {k: r[k] for k in ("tp", "fp", "fn", "precision", "recall", "f1")} for t, r in f1_rows.items()},
    }
    with open(os.path.join(out_dir, "results.json"), "w") as f:
        json.dump(results, f, indent=1)

    # F5: canonical conlleval text report (what the reference's Perl
    # script would print for this eval, parse-roundtrip-tested)
    from neuroner_spark.operators.metrics import render_conlleval_report, token_accuracy

    acc = token_accuracy(preds, "gold", "pred").collect()[0]
    with open(os.path.join(out_dir, "results_conlleval.txt"), "w") as f:
        f.write(render_conlleval_report(list(f1_rows.values()), acc["accuracy"], acc["n_tokens"]))

    # K5: TensorBoard scalars (loss + valid F1 per epoch) — stock
    # TensorBoard loads this directory; writer is dependency-free
    from neuroner_spark.sources.tbevents import write_training_summaries

    write_training_summaries(res["history"], os.path.join(out_dir, "tensorboard"))

    # K3 plot half (reference utils_plots.py heatmaps, SVG render):
    # classification-report heatmap from the span-level per-type rows
    # already collected above, confusion heatmap from the token-level
    # matrix — both driver-renders of class-count-bounded aggregates
    from neuroner_spark.operators.metrics import confusion_matrix
    from neuroner_spark.plots import save_report_plots

    conf_rows = confusion_matrix(preds, "gold", "pred").collect()
    save_report_plots(out_dir, f1_rows, conf_rows, split="valid")
    return dict(res, valid_f1=results["valid_f1"], out_dir=out_dir)
