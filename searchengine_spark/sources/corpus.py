"""File-corpus sources (SURVEY.md §2 S1-S4).

The reference walks a directory, dispatches on extension, and assigns dense
sequential docIDs in traversal order (reference:
engine/documents/directorycorpus.py:64-79).  Spark-first equivalents:

  * .txt  -> ``spark.read.text(..., wholetext=True)`` — one row per file,
            title = filename stem (textfiledocument.py:12-25);
  * .json -> ``spark.read.json`` with ``title`` / ``body`` keys
            (directorycorpus.py:69-74, jsondocument.py:6-25);
  * .xml  -> wholetext read + an Arrow-batched stdlib-ElementTree parser:
            TEI-namespaced title priority list, all-element text joined by
            newlines (xmldocument.py:25-52; the reference uses lxml, which
            is absent here — ElementTree covers the same XPath subset).

DocID density: the reference's "filesystem traversal order" is replicated
deterministically as ORDER BY file path (rglob order is platform-dependent;
path sort is the stable contract, same trick as the transcript table's
(conv_id, turn_idx) ordering).  The output (doc_id, title, text) feeds the
same build pipeline as transcripts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..indexing.build import assign_doc_ids
from ..worker import engine_kernel

_TEI_NS = {"tei": "http://www.tei-c.org/ns/1.0"}
# XPath title priority list, in reference order (xmldocument.py:33-38)
_TEI_TITLE_PATHS = (
    "./tei:title",
    "./tei:head/tei:title",
    "./tei:text/tei:body/tei:head/tei:title",
)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """(path, title, text): one doc per .txt file; title = stem."""
    raw = spark.read.text(f"{path}/*.txt", wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )
    stem = F.regexp_replace(F.element_at(F.split(F.col("path"), "/"), -1), r"\.txt$", "")
    return raw.select("path", stem.alias("title"), "text")


def read_json_corpus(spark: SparkSession, path: str) -> DataFrame:
    """(path, title, text) from {"title": ..., "body": ...} JSON files."""
    raw = spark.read.json(f"{path}/*.json").withColumn("path", F.input_file_name())
    return raw.select("path", F.col("title"), F.col("body").alias("text"))


def read_xml_corpus(spark: SparkSession, path: str) -> DataFrame:
    """(path, title, text) from TEI XML files (reference
    xmldocument.py:25-52): title = first non-empty match of the TEI XPath
    priority list; text = every element's .text that is not pure whitespace,
    joined by newlines (document order).  Parsing runs executor-side in an
    Arrow-batched kernel — one stdlib ElementTree parse per file, no
    driver-side file walking."""
    raw = spark.read.text(f"{path}/*.xml", wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("xml")
    )

    @engine_kernel
    def parse(iterator):
        import xml.etree.ElementTree as ET

        import pandas as pd

        for pdf in iterator:
            paths, titles, texts = [], [], []
            for p, xml_str in zip(pdf["path"], pdf["xml"]):
                root = ET.fromstring(xml_str)
                title = ""
                for xp in _TEI_TITLE_PATHS:
                    el = root.find(xp, namespaces=_TEI_NS)
                    if el is not None and el.text:
                        title = el.text
                        break
                content = "\n".join(
                    el.text for el in root.iter() if el.text and not el.text.isspace()
                )
                paths.append(p)
                titles.append(title)
                texts.append(content)
            yield pd.DataFrame({"path": paths, "title": titles, "text": texts})

    return raw.mapInPandas(parse, schema="path string, title string, text string")


def read_directory_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Extension-dispatched union with dense docIDs in path order —
    the DirectoryCorpus contract.  Returns (doc_id, title, text).

    Only the empty-glob/PATH_NOT_FOUND AnalysisException is tolerated (a
    format simply absent from the directory); real failures — corrupt JSON,
    missing title/body columns, bad XML — propagate instead of silently
    dropping a whole format from the corpus."""
    parts = []
    for reader in (read_text_corpus, read_json_corpus, read_xml_corpus):
        try:
            df = reader(spark, path)
        except AnalysisException as e:
            # match the structured error class first (stable across Spark
            # versions); message substrings are only the legacy fallback for
            # errors raised without a class
            error_class = None
            # getCondition replaces the deprecated getErrorClass (pyspark 4)
            get_cls = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
            if callable(get_cls):
                try:
                    error_class = get_cls()
                except Exception:
                    error_class = None
            if error_class == "PATH_NOT_FOUND" or (
                error_class is None
                and ("PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e))
            ):
                continue
            raise
        parts.append(df.select("path", "title", "text"))
    if not parts:
        raise ValueError(f"no .txt, .json or .xml documents under {path}")
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    with_ids = assign_doc_ids(corpus, order_cols=("path",))
    out = with_ids.select("doc_id", "title", "text")
    out._docid_cache = with_ids._docid_cache
    return out
