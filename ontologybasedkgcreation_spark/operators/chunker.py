"""Recursive character chunker + Paragraph windowing.

Clean-room reimplementation of the observable behavior of the reference's
``chunk_pdf`` (``kg_creator/src/utils.py:906-912``):
``RecursiveCharacterTextSplitter(chunk_size=1200, chunk_overlap=20)`` with the
default separators ``["\\n\\n", "\\n", " ", ""]`` — split on the coarsest
separator present, greedily merge pieces into <=1200-char chunks with ~20-char
overlap, recursing into oversized pieces with finer separators; chunks are
whitespace-stripped.  (The algorithm is public: the LangChain text-splitters
docs; no reference code is copied.)

Chunk ids are deterministic content hashes ``sha256(url || '#' || index)``
instead of the reference's ``uuid.uuid4()`` (``agent_utils.py:205``) so retry
and resume are idempotent.

Spark side: per-document splitting runs Arrow-batched in ``mapInPandas``
(narrow, no shuffle); ``next``/``previous`` chaining is a window function over
``(url, chunk_index)`` exactly as SURVEY.md §2 C3/M3 commits.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CHUNK_SIZE = 1200
CHUNK_OVERLAP = 20
SEPARATORS = ["\n\n", "\n", " ", ""]

CHUNKS_SCHEMA = (
    "url string, chunk_index int, chunk_id string, chunk_text string, "
    "char_start long, char_end long"
)


def _split_keep_separator(text: str, sep: str) -> List[str]:
    """Split on ``sep`` attaching the separator to the *following* piece
    (keep_separator='start' behavior), so no characters are lost."""
    if sep == "":
        return list(text)
    parts = text.split(sep)
    out: List[str] = []
    for i, p in enumerate(parts):
        out.append(p if i == 0 else sep + p)
    return [p for p in out if p]


def _merge_pieces(pieces: List[str]) -> List[str]:
    """Greedy merge with sliding overlap (the splitter's merge phase)."""
    chunks: List[str] = []
    current: List[str] = []
    total = 0
    for piece in pieces:
        plen = len(piece)
        if current and total + plen > CHUNK_SIZE:
            chunks.append("".join(current))
            # slide: drop from the front until within overlap budget
            while current and (
                total > CHUNK_OVERLAP or (total + plen > CHUNK_SIZE and total > 0)
            ):
                total -= len(current[0])
                current.pop(0)
        current.append(piece)
        total += plen
    if current:
        chunks.append("".join(current))
    return chunks


def split_text(text: str) -> List[str]:
    """Recursive character split; returns stripped chunks (may be fewer chars
    than CHUNK_SIZE; never more)."""

    def _recurse(t: str, seps: List[str]) -> List[str]:
        sep = seps[-1]
        rest: List[str] = []
        for i, s in enumerate(seps):
            if s == "" or s in t:
                sep = s
                rest = seps[i + 1 :]
                break
        pieces = _split_keep_separator(t, sep)
        good: List[str] = []
        for p in pieces:
            if len(p) <= CHUNK_SIZE:
                good.append(p)
            elif rest:
                good.extend(_recurse(p, rest))
            else:
                good.append(p)
        return _merge_pieces(good)

    if not text:
        return []
    return [c.strip() for c in _recurse(text, SEPARATORS) if c.strip()]


def split_with_offsets(text: str) -> List[Tuple[int, int, str]]:
    """(char_start, char_end, chunk_text) — offsets locate each (stripped)
    chunk inside the original text, for the part_of range join (M3)."""
    out: List[Tuple[int, int, str]] = []
    cursor = 0
    for chunk in split_text(text):
        start = text.find(chunk, cursor)
        if start < 0:  # overlap made us look past it; rescan from 0
            start = text.find(chunk)
        end = start + len(chunk)
        # next search may start before end because of overlap
        cursor = max(start + 1, end - CHUNK_OVERLAP - 1)
        out.append((start, end, chunk))
    return out


def chunk_id_for(url: str, index: int) -> str:
    return hashlib.sha256(f"{url}#{index}".encode("utf-8")).hexdigest()


def chunk_pages(extracted: DataFrame) -> DataFrame:
    """(url, text) -> one row per chunk with deterministic ids + offsets."""

    def _chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls: List[str] = []
            idxs: List[int] = []
            ids: List[str] = []
            texts: List[str] = []
            starts: List[int] = []
            ends: List[int] = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for i, (cs, ce, chunk) in enumerate(split_with_offsets(text or "")):
                    urls.append(url)
                    idxs.append(i)
                    ids.append(chunk_id_for(url, i))
                    texts.append(chunk)
                    starts.append(cs)
                    ends.append(ce)
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    "chunk_index": pd.Series(idxs, dtype="int32"),
                    "chunk_id": pd.Series(ids, dtype="object"),
                    "chunk_text": pd.Series(texts, dtype="object"),
                    "char_start": pd.Series(starts, dtype="int64"),
                    "char_end": pd.Series(ends, dtype="int64"),
                }
            )

    return extracted.select("url", "text").mapInPandas(_chunk, schema=CHUNKS_SCHEMA)


def chain_chunks(chunks: DataFrame) -> DataFrame:
    """Add prev/next chunk ids (the reference's ``next``/``previous``
    Paragraph edges, ``agent_utils.py:227-235``) via lag/lead — one shuffle
    partitioned by url, which is also the natural partitioning of every
    downstream per-document stage."""
    w = Window.partitionBy("url").orderBy("chunk_index")
    return chunks.withColumn("prev_chunk_id", F.lag("chunk_id").over(w)).withColumn(
        "next_chunk_id", F.lead("chunk_id").over(w)
    )
