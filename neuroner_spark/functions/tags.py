"""BIO/BIOES tag algebra as window expressions (SURVEY.md W2/W3/F3/P5).

Reference parity:
- W2 ``src/utils_nlp.py :: convert_conll_from_bio_to_bioes`` (≈L140–260)
- W3 inverse (same region), applied to predictions before conlleval
- F3 ``src/utils_nlp.py :: remove_bio_from_label_name`` (≈L125–135)
- P5 ``src/utils_nlp.py :: check_validity_of_conll_bioes`` (≈L265–320)

The reference walks Python lists looking at the NEXT label; in Spark
"next" is ``lead() over (partition by doc,sent order by pos)`` — a
single shuffle on (doc_id, sent_id) that Catalyst shares across all
the tag expressions in one stage.  Everything here is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SENT_WINDOW_COLS = ("doc_id", "sent_id")


def tag_type(label: Column) -> Column:
    """F3: 'B-PER' -> 'PER'; 'O' -> 'O'."""
    return F.regexp_replace(label, r"^[BIOES]-", "")


def bioes_to_bio(label: Column) -> Column:
    """W3: S->B, E->I — per-row, no neighbor needed."""
    return F.when(
        label.startswith("S-"), F.concat(F.lit("B-"), F.substring(label, 3, 2147483647))
    ).when(
        label.startswith("E-"), F.concat(F.lit("I-"), F.substring(label, 3, 2147483647))
    ).otherwise(label)


def with_bioes(df: DataFrame, label_col: str = "label", out_col: str = "label_bioes") -> DataFrame:
    """W2: BIO -> BIOES. Needs the next token's label within the sentence.

    Rules (reference semantics):
      B-X with next in {I-X}            -> B-X (span continues)
      B-X with next not I-X             -> S-X (singleton)
      I-X with next in {I-X}            -> I-X
      I-X with next not I-X             -> E-X (span ends)
      O                                 -> O
    """
    w = Window.partitionBy(*SENT_WINDOW_COLS).orderBy("pos")
    lab = F.col(label_col)
    nxt = F.lead(label_col).over(w)
    typ = tag_type(lab)
    nxt_is_i_same = (nxt.isNotNull()) & (nxt == F.concat(F.lit("I-"), typ))
    converted = (
        F.when(lab == "O", F.lit("O"))
        .when(lab.startswith("B-") & nxt_is_i_same, lab)
        .when(lab.startswith("B-"), F.concat(F.lit("S-"), typ))
        .when(lab.startswith("I-") & nxt_is_i_same, lab)
        .when(lab.startswith("I-"), F.concat(F.lit("E-"), typ))
        .otherwise(lab)
    )
    return df.withColumn(out_col, converted)


def bioes_violations(df: DataFrame, label_col: str = "label") -> DataFrame:
    """P5: rows whose BIOES label is ill-formed given the PREVIOUS label.

    Well-formedness within a sentence:
      I-X / E-X must follow B-X or I-X of the SAME type;
      B-X / I-X must be followed by I-X or E-X of the same type
      (equivalently: B/I never end a sentence) — we check the
      look-back half plus dangling-B/I via look-ahead.
    Returns the violating rows with a ``violation`` reason column.
    """
    w = Window.partitionBy(*SENT_WINDOW_COLS).orderBy("pos")
    lab = F.col(label_col)
    prv = F.lag(label_col).over(w)
    nxt = F.lead(label_col).over(w)
    typ = tag_type(lab)
    prev_ok_for_cont = prv.isNotNull() & (
        (prv == F.concat(F.lit("B-"), typ)) | (prv == F.concat(F.lit("I-"), typ))
    )
    next_is_cont = nxt.isNotNull() & (
        (nxt == F.concat(F.lit("I-"), typ)) | (nxt == F.concat(F.lit("E-"), typ))
    )
    violation = (
        F.when(
            (lab.startswith("I-") | lab.startswith("E-")) & ~prev_ok_for_cont,
            F.lit("continuation_without_begin"),
        )
        .when(
            (lab.startswith("B-") | lab.startswith("I-")) & ~next_is_cont,
            F.lit("unterminated_span"),
        )
        .otherwise(F.lit(None))
    )
    return df.withColumn("violation", violation).filter(F.col("violation").isNotNull())
