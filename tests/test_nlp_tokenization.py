"""Tests for the notes-NLP surface (D6) and BEHRT tokenization (D7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.nlp import entity_summary, extract_entities
from mimic_iv_data_pipeline_spark.plans.tokenization import (
    build_sequences,
    build_vocab,
    condition_tokens,
    encode_sequences,
    lab_tokens,
)


@pytest.fixture(scope="module")
def notes(spark):
    return spark.createDataFrame(
        [
            (
                "n1",
                1,
                "History of Present Illness: patient reports chest pain and "
                "denies fever. Past Medical History: diabetes, hypertension. "
                "Family History: mother with heart failure.",
            ),
            ("n2", 2, "Assessment and Plan: no evidence of chest pain today."),
            ("n3", 3, "no section headers here but fever is present"),
        ],
        "note_id string, subject_id long, text string",
    )


def test_extract_entities(spark, notes):
    ents = extract_entities(notes).collect()
    by_key = {(e["note_id"], e["term"]): e for e in ents}

    cp = by_key[("n1", "chest pain")]
    assert cp["section"] == "history of present illness" and not cp["negated"]

    fever = by_key[("n1", "fever")]
    assert fever["negated"]  # 'denies fever'

    hf = by_key[("n1", "heart failure")]
    assert hf["family_context"] and hf["section"] == "family history"

    n2 = by_key[("n2", "chest pain")]
    assert n2["negated"]  # 'no evidence of'

    n3 = by_key[("n3", "fever")]
    assert n3["section"] == "preamble" and not n3["negated"]


def test_entity_summary(spark, notes):
    summary = {r["term"]: r for r in entity_summary(extract_entities(notes)).collect()}
    assert summary["chest pain"]["mentions"] == 2
    assert summary["chest pain"]["negated_share"] == 0.5
    assert summary["fever"]["n_subjects"] == 2


def test_extract_entities_partition_invariant(spark, notes):
    a = sorted(map(tuple, extract_entities(notes).collect()))
    b = sorted(map(tuple, extract_entities(notes.repartition(3)).collect()))
    assert a == b


@pytest.fixture(scope="module")
def lab_fixture(spark):
    rows = []
    # itemid 7: values 1..8 over two patients → quartiles of 2
    for i in range(8):
        rows.append((100 + (i % 2), 7, float(i + 1), i))
    return spark.createDataFrame(rows, "subject_id long, itemid long, valuenum double, t long")


def test_injected_model_factory_inits_once(spark):
    """The factory must run once per task (model-load cost), never per
    row/batch. The fake extractor stamps each entity with the number of
    factory invocations seen in its worker process; with one partition
    every stamp must be 1."""
    notes = spark.createDataFrame(
        [(f"n{i}", i, "note text") for i in range(40)],
        "note_id string, subject_id long, text string",
    ).repartition(1)

    def counting_factory():
        import builtins

        n = getattr(builtins, "_nlp_fake_inits", 0) + 1
        builtins._nlp_fake_inits = n

        def extractor(text):
            return [
                {
                    "section": "s",
                    "term": "t",
                    "negated": False,
                    "family_context": False,
                    "offset": n,  # factory-invocation count at init time
                }
            ]

        return extractor

    ents = extract_entities(notes, model_factory=counting_factory).collect()
    assert len(ents) == 40
    assert {r["offset"] for r in ents} == {1}


def test_lab_tokens_quartiles(spark, lab_fixture):
    toks = lab_tokens(lab_fixture).collect()
    by_val = {}
    joined = lab_fixture.join(
        lab_tokens(lab_fixture), on=["subject_id", "t"], how="inner"
    ).collect()
    for r in joined:
        by_val[r["valuenum"]] = r["token"]
    assert by_val[1.0] == "7_Q1" and by_val[2.0] == "7_Q1"
    assert by_val[8.0] == "7_Q4"


def test_build_sequences_and_encode(spark, lab_fixture):
    conds = spark.createDataFrame(
        [(100, "I50", -1), (101, "N18", -1)],
        "subject_id long, icd_code string, t long",
    )
    seqs = build_sequences(
        [condition_tokens(conds), lab_tokens(lab_fixture)], max_len=3
    )
    rows = {r["subject_id"]: r for r in seqs.collect()}
    # conditions at t=-1 sort before labs; sequences truncated at 3 of 5
    assert rows[100]["tokens"][0] == "I50"
    assert rows[100]["seq_len"] == 5 and rows[100]["truncated"]
    assert len(rows[100]["tokens"]) == 3

    vocab = build_vocab(seqs)
    v = {r["token"]: r["id"] for r in vocab.collect()}
    assert v["[PAD]"] == 0 and v["[UNK]"] == 4
    assert all(i >= 5 for t, i in v.items() if not t.startswith("["))

    enc = encode_sequences(seqs, vocab)
    ids = {r["subject_id"]: r["token_ids"] for r in enc.collect()}
    assert ids[100][0] == v["I50"]
    assert len(ids[100]) == 3


def test_spacy_backed_factory_when_present(spark):
    """Activates the day spaCy lands in the container: a real-model
    factory plugs into extract_entities unchanged — entity rows carry
    the spaCy pipeline's spans in ENTITY_SCHEMA shape."""
    pytest.importorskip("spacy")

    def spacy_factory():
        import spacy

        nlp = spacy.blank("en")
        ruler = nlp.add_pipe("entity_ruler")
        ruler.add_patterns(
            [{"label": "CONDITION", "pattern": "diabetes"},
             {"label": "CONDITION", "pattern": "sepsis"}]
        )

        def extract(text):
            return [
                {
                    "section": "unknown",
                    "term": ent.text,
                    "negated": False,
                    "family_context": False,
                    "offset": ent.start_char,
                }
                for ent in nlp(text or "").ents
            ]

        return extract

    notes = spark.createDataFrame(
        [(1, 10, "pt has diabetes; r/o sepsis"), (2, 11, "no findings")],
        ["note_id", "subject_id", "text"],
    )
    rows = extract_entities(notes, model_factory=spacy_factory).collect()
    terms = sorted(r["term"] for r in rows)
    assert terms == ["diabetes", "sepsis"]
    assert all(r["note_id"] == 1 for r in rows)
