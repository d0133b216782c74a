"""Pluggable per-language token pipelines (SURVEY.md §2 T8).

The reference selects a language pipeline per corpus (preprocessing.py:26-33):
``english`` -> EnglishTokenStream + BasicTokenProcessor + Porter2, and
``spanish`` -> spaCy tokenize / is_alpha filter / lemmatize
(spanishtokenstream.py:11-21, spanishtokenprocessor.py:9-27).

Spark mapping: a pipeline is a callable ``(docs, text_col, id_col) ->
DataFrame(doc_id, position, term)`` — the exact contract of
spark_tokenize.tokenize, so any registered language drops into the same
build (logical.py consumes the token stream unchanged).

* ``english`` is the default expression pipeline (zero Python per token).
* ``spanish`` is spaCy-backed via an Arrow-batched kernel; spaCy is NOT
  installed in this environment (verified: ``import spacy`` raises
  ImportError — recorded in COVERAGE.md), so constructing it raises a
  descriptive ImportError.  The registry + kernel plumbing is real and
  tested with a deterministic lemmatizer double
  (tests/test_language_pipelines.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..worker import engine_kernel

PipelineFn = Callable[[DataFrame, str, str], DataFrame]

_PIPELINES: dict[str, PipelineFn] = {}


def register_language_pipeline(name: str, fn: PipelineFn) -> None:
    _PIPELINES[name] = fn


def available_languages() -> list[str]:
    return sorted(_PIPELINES)


def tokenize_language(
    docs: DataFrame, language: str = "english", text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Dispatch to the registered pipeline — the Spark counterpart of the
    reference's config.LANGUAGE switch (preprocessing.py:26-33)."""
    if language not in _PIPELINES:
        raise ValueError(
            f"Unsupported language: {language} (available: {available_languages()})"
        )
    return _PIPELINES[language](docs, text_col, id_col)


def _english(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    from .spark_tokenize import tokenize

    return tokenize(docs, text_col=text_col, id_col=id_col)


register_language_pipeline("english", _english)


def make_lemma_kernel_pipeline(
    tokenize_fn: Callable[[str], list[str]],
    lemma_fn: Callable[[str], str],
    is_alpha_fn: Callable[[str], bool],
) -> PipelineFn:
    """Build a kernel pipeline from three per-token callables — the shape of
    the reference's Spanish processor (spanishtokenprocessor.py:9-27):
    tokenize, keep alphabetic tokens (1-based positions count KEPT tokens,
    mirroring the stream's len>0 emission), strip non-alnum + lowercase,
    lemmatize.  Runs as an Arrow-batched mapInPandas kernel with a
    per-executor lemma cache (Python cost O(vocab), not O(tokens))."""

    def pipeline(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        @engine_kernel
        def fn(iterator):
            import pandas as pd

            cache: dict[str, str] = {}

            def lemma(t: str) -> str:
                v = cache.get(t)
                if v is None:
                    v = lemma_fn(t)
                    cache[t] = v
                return v

            for pdf in iterator:
                ids, positions, terms = [], [], []
                for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                    pos = 0
                    for tok in tokenize_fn(str(text) if text is not None else ""):
                        if not tok:
                            continue
                        pos += 1
                        if not is_alpha_fn(tok):
                            continue
                        typ = "".join(ch for ch in tok.lower() if ch.isalnum())
                        if not typ:
                            continue
                        ids.append(doc_id)
                        positions.append(pos)
                        terms.append(lemma(typ))
                yield pd.DataFrame({"doc_id": ids, "position": positions, "term": terms})

        return docs.select(id_col, text_col).mapInPandas(
            fn, schema="doc_id long, position int, term string"
        )

    return pipeline


def make_spacy_spanish_pipeline(model: str = "es_core_news_sm") -> PipelineFn:
    """spaCy-backed Spanish pipeline (spanishtokenprocessor.py:9-27).
    Raises ImportError here when spaCy is absent (it is, in this container)
    so the failure is at registration time, not inside executors."""
    try:
        import spacy  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "spaCy is not installed in this environment; the Spanish pipeline "
            "needs `pip install spacy` + the es_core_news_sm model. Register a "
            "custom pipeline via make_lemma_kernel_pipeline instead."
        ) from e

    import spacy

    nlp = None

    def tokenize_fn(text: str) -> list[str]:
        nonlocal nlp
        if nlp is None:
            nlp = spacy.load(model)
        return [t.text for t in nlp(text) if len(t.text) > 0]

    def lemma_fn(t: str) -> str:
        doc = nlp(t)
        return doc[0].lemma_ if len(doc) else t

    def is_alpha_fn(t: str) -> bool:
        return t.isalpha()

    return make_lemma_kernel_pipeline(tokenize_fn, lemma_fn, is_alpha_fn)


try:  # auto-register when the optional dependency exists
    register_language_pipeline("spanish", make_spacy_spanish_pipeline())
except ImportError:
    pass


# --- spanish-lite: built-in rule-based lemmatizer ----------------------------
# A dependency-free Spanish pipeline so T8 is exercisable END TO END in this
# container (the spaCy backend above needs models this sandbox lacks).  The
# lemmatizer is a small deterministic rule set over public Spanish morphology
# — irregular high-frequency verb forms + plural/adverb/'-ciones' suffix
# stripping — NOT a full analyzer; its value here is that the whole T8
# surface (registry dispatch -> Arrow lemma kernel -> token-stream contract)
# runs for real, with an INDEPENDENT SQL twin (duck_oracle implements the
# same rules as CASE expressions, not a copied lookup table).

_SPANISH_IRREGULAR = {
    "es": "ser", "son": "ser", "era": "ser", "eran": "ser",
    "fue": "ser", "fueron": "ser", "sea": "ser",
    "está": "estar", "están": "estar", "estaba": "estar",
    "tiene": "tener", "tienen": "tener", "tenía": "tener",
    "va": "ir", "van": "ir", "iba": "ir",
    "hace": "hacer", "hacen": "hacer", "hacía": "hacer",
    "dice": "decir", "dicen": "decir", "dijo": "decir",
    "puede": "poder", "pueden": "poder", "podía": "poder",
    "hay": "haber",
}

_SPANISH_ALPHA = set("abcdefghijklmnopqrstuvwxyzáéíóúüñ")
_ES_CONSONANTS = "rlndzjsxmy"


def spanish_lite_lemma(t: str) -> str:
    """Rule-based lemma, mirrored expression-for-expression by
    duck_oracle.sql_tokenize_spanish_lite (ORDERED rules — the SQL CASE
    evaluates in the same order)."""
    irr = _SPANISH_IRREGULAR.get(t)
    if irr:
        return irr
    n = len(t)
    if n > 6 and t.endswith("mente"):
        return t[:-5]
    if n > 7 and t.endswith("ciones"):
        return t[:-6] + "ción"
    if n > 4 and t.endswith("ces"):
        return t[:-3] + "z"
    if n > 4 and t.endswith("es") and t[-3] in _ES_CONSONANTS:
        return t[:-2]
    if n > 3 and t.endswith("s"):
        return t[:-1]
    return t


def _spanish_lite_is_alpha(tok: str) -> bool:
    """Charset-pinned (not str.isalpha()): the SQL twin tests the identical
    class ^[a-zA-ZáéíóúüñÁÉÍÓÚÜÑ]+$, and unicode isalpha() admits letters
    RE2 character classes cannot enumerate."""
    return bool(tok) and all(c in _SPANISH_ALPHA for c in tok.lower())


import re as _re

# ASCII whitespace class, pinned to the SQL twin's string_split_regex class
# (str.split would also split on unicode whitespace the twin does not see)
_SPANISH_WS = _re.compile(r"[ \t\n\x0B\f\r]+")


def make_spanish_lite_pipeline() -> PipelineFn:
    """Whitespace tokenize (the spaCy backend tokenizes with a model; lite
    documents the divergence), alphabetic filter, lowercase, rule lemma —
    the spanishtokenprocessor.py:9-27 shape with a built-in lemmatizer."""
    return make_lemma_kernel_pipeline(
        tokenize_fn=_SPANISH_WS.split,
        lemma_fn=spanish_lite_lemma,
        is_alpha_fn=_spanish_lite_is_alpha,
    )


register_language_pipeline("spanish-lite", make_spanish_lite_pipeline())
