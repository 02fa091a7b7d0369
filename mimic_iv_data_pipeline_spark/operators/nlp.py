"""Clinical-notes NLP surface (SURVEY.md §2.10 D6).

The reference's ``preprocessing/notes_preproc.py:108-224`` runs a
medspacy pipeline (sentence/section split, target matching, negation
via ConText, severity) row-by-row in pandas. The Spark shape is the
same for any heavy-model NLP: ``mapInPandas`` with per-task model init,
emitting exploded entity rows (UDTF-shaped: 1 note → N entities).

medspacy/spaCy are not in this container, so the *matcher* here is a
deterministic rule engine (regex section splitter + term matcher +
negation/family-history cue windows — the ConText algorithm's public
core, Harkema et al. 2009, J Biomed Inform). The plumbing — batch
iteration, schema, explode shape, per-task init point — is exactly what
a real model drops into.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("note_id", T.StringType()),
        T.StructField("subject_id", T.LongType()),
        T.StructField("section", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("negated", T.BooleanType()),
        T.StructField("family_context", T.BooleanType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

SECTION_HEADERS = [
    "history of present illness",
    "past medical history",
    "family history",
    "medications",
    "assessment and plan",
]

NEGATION_CUES = ["denies", "no evidence of", "without", "negative for", "no"]
FAMILY_CUES = ["family history", "mother", "father", "sister", "brother"]
# ConText termination terms: a cue's scope ends at these (Harkema et al.)
TERMINATION_CUES = ["but", "however", "although", "except"]

DEFAULT_TARGETS = [
    "fever",
    "chest pain",
    "shortness of breath",
    "diabetes",
    "hypertension",
    "heart failure",
]


def _split_sections(text: str) -> list[tuple[str, int, str]]:
    """(section_name, start_offset, section_text) triples."""
    lowered = text.lower()
    marks: list[tuple[int, str]] = []
    for header in SECTION_HEADERS:
        for m in re.finditer(re.escape(header) + r"\s*:", lowered):
            marks.append((m.start(), header))
    marks.sort()
    if not marks or marks[0][0] > 0:
        marks.insert(0, (0, "preamble"))
    out = []
    for i, (start, name) in enumerate(marks):
        end = marks[i + 1][0] if i + 1 < len(marks) else len(text)
        out.append((name, start, lowered[start:end]))
    return out


def _extract(text: str, targets: list[str]) -> list[dict]:
    entities = []
    for section, sec_start, sec_text in _split_sections(text):
        for term in targets:
            for m in re.finditer(re.escape(term), sec_text):
                # ConText-style cue scope: cue within the 5 tokens
                # preceding the mention, same section (Harkema et al.'s
                # default forward scope), cut at termination terms
                toks = sec_text[: m.start()].split()[-5:]
                for i in range(len(toks) - 1, -1, -1):
                    if toks[i] in TERMINATION_CUES:
                        toks = toks[i + 1 :]
                        break
                window = " ".join(toks)
                window = f" {window} "
                negated = any(
                    f" {cue.strip()} " in window for cue in NEGATION_CUES
                )
                family = section == "family history" or any(
                    f" {cue.strip()} " in window for cue in FAMILY_CUES
                )
                entities.append(
                    {
                        "section": section,
                        "term": term,
                        "negated": negated,
                        "family_context": family,
                        "offset": sec_start + m.start(),
                    }
                )
    return entities


def lexicon_model_factory(
    targets: list[str] | None = None,
) -> "Extractor":
    """Default dependency-free model: the rule-lexicon ConText matcher
    above. A factory returns an *extractor* — ``text -> list[dict]``
    with keys matching :data:`ENTITY_SCHEMA`'s entity fields
    (section/term/negated/family_context/offset)."""
    target_list = targets or DEFAULT_TARGETS

    def extractor(text: str) -> list[dict]:
        return _extract(text or "", target_list)

    return extractor


# An Extractor maps note text to entity dicts; a ModelFactory builds one
# (loading models, compiling matchers) ONCE per Spark task.
Extractor = "Callable[[str], list[dict]]"
ModelFactory = "Callable[[], Extractor]"


def extract_entities(
    notes: DataFrame,
    targets: list[str] | None = None,
    model_factory=None,
) -> DataFrame:
    """Exploded entity rows from a notes DataFrame
    (note_id, subject_id, text).

    Arrow-batched ``mapInPandas``; 1 note → N entity rows.

    ``model_factory`` makes the pipeline injectable: pass a zero-arg
    callable that loads a REAL model and returns an extractor
    (``text -> list[entity dict]``) — e.g. for the reference's medspacy
    pipeline (``notes_preproc.py:108-224``)::

        def medspacy_factory():
            import medspacy
            nlp = medspacy.load(...)          # heavy init, once per task
            return lambda text: to_entity_dicts(nlp(text))

        extract_entities(notes, model_factory=medspacy_factory)

    The factory is invoked ONCE per Spark task, before the first Arrow
    batch — never per row or per batch (the reference pays spaCy setup
    once per process too; tests assert the single-init property). The
    default is the dependency-free rule lexicon.
    """
    factory = model_factory or (lambda: lexicon_model_factory(targets))
    # the default factory chain references module-level helpers; make
    # them serialize by value so executors never need the package on
    # their import path (same registration as operators.graph)
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extractor = factory()  # per-task init point (model load happens here)
        for pdf in batches:
            rows = []
            for note_id, subject_id, text in zip(
                pdf["note_id"], pdf["subject_id"], pdf["text"]
            ):
                for ent in extractor(text):
                    rows.append(
                        {
                            "note_id": note_id,
                            "subject_id": subject_id,
                            **ent,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in ENTITY_SCHEMA.fields],
            )

    return notes.select("note_id", "subject_id", "text").mapInPandas(
        run, schema=ENTITY_SCHEMA
    )


def entity_summary(entities: DataFrame) -> DataFrame:
    """Per-term prevalence: mentions, negated share, family-context
    share — the summary the reference prints after NLP."""
    from pyspark.sql import functions as F

    return entities.groupBy("term").agg(
        F.count(F.lit(1)).alias("mentions"),
        F.round(F.avg(F.col("negated").cast("double")), 6).alias("negated_share"),
        F.round(F.avg(F.col("family_context").cast("double")), 6).alias("family_share"),
        F.countDistinct("subject_id").alias("n_subjects"),
    )
