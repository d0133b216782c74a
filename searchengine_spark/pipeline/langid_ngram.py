"""Dependency-free n-gram language identification (Cavnar-Trenkle, 1994).

The reference shells out to ``langdetect`` (engine/text/preprocessing.py:21-24),
which is absent in this container; ``textops.lang_id`` is a marker-stopword
stand-in that fails on text avoiding the marker words.  This module closes
the functional gap with the public Cavnar-Trenkle "N-Gram-Based Text
Categorization" method: rank a document's most frequent character trigrams
and pick the language whose precomputed trigram-rank profile minimizes the
out-of-place distance.  Profiles are derived at import time from
deterministic seed passages embedded below (written for this repo — no
external data), so executors, the driver and the DuckDB twin all agree
without shipping state.

Exact semantics (shared by the expression plan, the Arrow kernel and the
SQL twin — every op is integer/string, so results hash-match bit-for-bit):

1. normalize: ``lower(text)``, collapse ``[^a-z]+`` runs to one space, trim,
   pad with one leading + trailing space
2. trigrams: every length-3 substring of the padded string (word-boundary
   grams like ``" th"`` included — they carry most of the signal)
3. doc profile: top ``top_k`` trigrams by (count desc, trigram asc),
   ranked 1..top_k  (row_number semantics: total, deterministic)
4. distance(doc, lang) = sum over doc-profile trigrams of
   ``|doc_rank - profile_rank|``, or ``profile_size`` when the trigram is
   absent from the language profile (the standard out-of-place penalty)
5. prediction = lang with min (distance, lang) — lexicographic tie-break;
   docs with no trigrams (no letters) -> ``"unknown"``

Scale shape: ``lang_id_ngram`` (production) is ONE mapInPandas pass —
profiles ride into the closure (a few KiB), classification is per-row local,
zero shuffle at any corpus size.  ``lang_id_ngram_expr`` is the same
computation as a pure DataFrame plan (explode -> count -> window rank ->
broadcast profile join -> min) — the SQL-twin shape, kept as the semantic
baseline and tested bit-identical to the kernel.
"""

from __future__ import annotations

import re
from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..worker import engine_kernel

TOP_K = 32  # trigrams kept per document
PROFILE_SIZE = 64  # trigrams kept per language profile; also the OOP penalty

# Deterministic seed passages (authored for this repo). ASCII-only on
# purpose: normalization maps every non-[a-z] char to a space, so accented
# letters would split words anyway — profiles model the post-normalization
# trigram distribution.
SEED_TEXTS = {
    "en": (
        "the quick brown fox jumps over the lazy dog while the children "
        "watch from the garden and the old man reads his newspaper in the "
        "morning light there is nothing better than a quiet day with "
        "friends and family around the table sharing stories about the "
        "places they have seen and the things they wish to do together "
        "the weather was warm and the wind carried the smell of fresh "
        "bread from the bakery down the street where people were talking "
        "about the news of the day and what they would do with the time "
        "that was left before the evening came and the lights went on"
    ),
    "es": (
        "el zorro marron salta sobre el perro perezoso mientras los ninos "
        "miran desde el jardin y el hombre viejo lee su periodico en la "
        "luz de la manana no hay nada mejor que un dia tranquilo con "
        "amigos y familia alrededor de la mesa compartiendo historias "
        "sobre los lugares que han visto y las cosas que desean hacer "
        "juntos el tiempo era calido y el viento llevaba el olor del pan "
        "fresco de la panaderia calle abajo donde la gente hablaba sobre "
        "las noticias del dia y lo que harian con el tiempo que quedaba "
        "antes de que llegara la noche y se encendieran las luces"
    ),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund waehrend "
        "die kinder aus dem garten zuschauen und der alte mann seine "
        "zeitung im licht des morgens liest es gibt nichts besseres als "
        "einen ruhigen tag mit freunden und familie um den tisch herum wo "
        "man geschichten ueber die orte teilt die man gesehen hat und die "
        "dinge die man zusammen machen will das wetter war warm und der "
        "wind trug den geruch von frischem brot aus der baeckerei die "
        "strasse hinunter wo die leute ueber die nachrichten des tages "
        "sprachen und darueber was sie mit der zeit machen wuerden bevor "
        "der abend kam und die lichter angingen"
    ),
    "fr": (
        "le renard brun saute par dessus le chien paresseux pendant que "
        "les enfants regardent depuis le jardin et que le vieil homme lit "
        "son journal dans la lumiere du matin il n y a rien de mieux qu "
        "une journee tranquille avec des amis et la famille autour de la "
        "table en partageant des histoires sur les lieux qu ils ont vus "
        "et les choses qu ils veulent faire ensemble le temps etait chaud "
        "et le vent portait l odeur du pain frais de la boulangerie en "
        "bas de la rue ou les gens parlaient des nouvelles du jour et de "
        "ce qu ils feraient du temps qui restait avant que le soir arrive "
        "et que les lumieres s allument"
    ),
}

_NON_ALPHA = re.compile(r"[^a-z]+")


def _normalize(text: str) -> str:
    """lower -> collapse non-letters -> trim -> pad.  Mirrors the SQL
    ``' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) || ' '``."""
    norm = _NON_ALPHA.sub(" ", (text or "").lower()).strip()
    return f" {norm} "


def _trigrams(padded: str) -> list[str]:
    return [padded[i : i + 3] for i in range(len(padded) - 2)]


def _rank_trigrams(tris: list[str], k: int) -> list[tuple[str, int]]:
    """(trigram, rank) for the top-k by (count desc, trigram asc) —
    row_number semantics, rank is 1-based."""
    counts: dict[str, int] = {}
    for t in tris:
        counts[t] = counts.get(t, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(t, r + 1) for r, (t, _) in enumerate(top)]


@lru_cache(maxsize=None)
def language_profiles(profile_size: int = PROFILE_SIZE) -> dict[str, dict[str, int]]:
    """lang -> {trigram: rank 1..profile_size}, computed once from the seed
    passages with the identical normalization/ranking as classification."""
    return {
        lang: dict(_rank_trigrams(_trigrams(_normalize(text)), profile_size))
        for lang, text in SEED_TEXTS.items()
    }


def classify_text(
    text: str, top_k: int = TOP_K, profile_size: int = PROFILE_SIZE
) -> str:
    """Single-document classification — the exact per-row logic of the
    kernel (and of the expression plan / SQL twin)."""
    tris = _trigrams(_normalize(text))
    if not tris:
        return "unknown"
    profiles = language_profiles(profile_size)
    doc = _rank_trigrams(tris, top_k)
    best: tuple[int, str] | None = None
    for lang in sorted(profiles):
        prof = profiles[lang]
        d = 0
        for tri, r in doc:
            p = prof.get(tri)
            d += abs(r - p) if p is not None else profile_size
        if best is None or (d, lang) < best:
            best = (d, lang)
    return best[1]


def lang_id_ngram(
    docs: DataFrame, top_k: int = TOP_K, profile_size: int = PROFILE_SIZE
) -> DataFrame:
    """(doc_id, lang_pred) — production path: one Arrow mapInPandas pass,
    profiles closed over (a few KiB), zero shuffle at any scale.  Tested
    bit-identical to lang_id_ngram_expr (the SQL-twin shape)."""
    profiles = language_profiles(profile_size)
    langs = sorted(profiles)

    @engine_kernel
    def fn(iterator):
        import pandas as pd

        for pdf in iterator:
            preds = []
            for text in pdf["text"]:
                tris = _trigrams(_normalize(text))
                if not tris:
                    preds.append("unknown")
                    continue
                doc = _rank_trigrams(tris, top_k)
                best = None
                for lang in langs:
                    prof = profiles[lang]
                    d = 0
                    for tri, r in doc:
                        p = prof.get(tri)
                        d += abs(r - p) if p is not None else profile_size
                    if best is None or (d, lang) < best:
                        best = (d, lang)
                preds.append(best[1])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "lang_pred": preds})

    return docs.select("doc_id", "text").mapInPandas(
        fn, schema="doc_id long, lang_pred string"
    )


def lang_id_ngram_expr(
    docs: DataFrame, top_k: int = TOP_K, profile_size: int = PROFILE_SIZE
) -> DataFrame:
    """The same classification as a pure DataFrame plan — explode trigrams,
    count, window-rank per doc, broadcast-join the (tiny) profile table,
    out-of-place sum per (doc, lang), min per doc.  This is the SQL twin's
    shape; the shuffles it costs (doc_id-clustered count + window) are why
    the kernel above is the production path."""
    spark = docs.sparkSession
    profiles = language_profiles(profile_size)
    prof_rows = [
        (lang, tri, rank)
        for lang in sorted(profiles)
        for tri, rank in sorted(profiles[lang].items(), key=lambda kv: kv[1])
    ]
    prof = spark.createDataFrame(prof_rows, "lang string, tri string, prank int")
    langs = spark.createDataFrame([(lang,) for lang in sorted(profiles)], "lang string")

    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " ")),
        F.lit(" "),
    )
    n = F.length(s)
    tris = F.when(
        n >= 3, F.transform(F.sequence(F.lit(1), n - 2), lambda i: F.substring(s, i, 3))
    ).otherwise(F.array().cast("array<string>"))
    tri_rows = docs.select("doc_id", F.explode(tris).alias("tri"))

    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("tri"))
    top = (
        tri_rows.groupBy("doc_id", "tri")
        .agg(F.count("*").alias("cnt"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= top_k)
    )

    cost = F.coalesce(
        F.abs(F.col("r") - F.col("prank")), F.lit(profile_size)
    ).cast("long")
    dist = (
        top.crossJoin(F.broadcast(langs))
        .join(F.broadcast(prof), ["lang", "tri"], "left")
        .groupBy("doc_id", "lang")
        .agg(F.sum(cost).alias("d"))
    )
    wwin = Window.partitionBy("doc_id").orderBy(F.asc("d"), F.asc("lang"))
    winner = (
        dist.withColumn("wr", F.row_number().over(wwin))
        .filter(F.col("wr") == 1)
        .select("doc_id", F.col("lang").alias("winner_lang"))
    )
    return docs.select("doc_id").join(winner, "doc_id", "left").select(
        "doc_id", F.coalesce("winner_lang", F.lit("unknown")).alias("lang_pred")
    )
