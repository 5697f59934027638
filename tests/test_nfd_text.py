"""NFD-decomposed-text probe, mechanized (tools/probe_nfd_text.py
is the fixture generator for the full-registry axis). The focused
regressions here pin the two REAL finds this axis has produced:

- r12: str_encode_b64_hex — Spark base64() MIME-chunks with CRLF past
  57-byte payloads (fixed r13 with the strip; also pinned engine-level
  in tests/test_r13_prep.py). Driven here as the real op+oracle pair
  on NFD text whose 24-codepoint prefix exceeds 57 bytes.
- r13: multimodal_frame_sample — the oracle counted frames by
  strlen() (BYTES) while frames are 16-CHAR chunks in both engines;
  ~3x overcount on NFD Hangul (89 vs 93 rows on the probe fixture).
  Fixed to length(); driven here on the same text class.

Both ops read only `documents`, so the fixture is a minimal
documents.parquet with the hostile text classes, NOT a full-table
regeneration — the full-registry NFD sweep stays a per-round axis run
via the tool.
"""

from __future__ import annotations

import os
import unicodedata

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tpc_di_etl_using_pyspark_spark.plans.registry import all_oracles, all_queries

from .conftest import assert_parity

_QUERIES = all_queries()
_ORACLES = all_oracles()

DOCS = [
    # NFD Hangul: 3 bytes/codepoint, long enough to cross a stride-4
    # frame boundary under a byte-based count (the r13 find's trigger)
    unicodedata.normalize("NFD", "가각간갈감갑강같 " * 12).strip(),
    # >57-byte 24-codepoint prefix (the r12 base64 CRLF trigger)
    unicodedata.normalize("NFD", "한국어 텍스트 예시 문서 한글 본문"),
    # combining stacks and an NFC/NFD twin pair (must stay distinct)
    "á̂̃ è̖̣ ȫ̰ text with stacks",
    unicodedata.normalize("NFC", "café naïve résumé words"),
    unicodedata.normalize("NFD", "café naïve résumé words"),
    # ASCII control: byte == char, both ops' pre-fix forms agreed here
    "plain ascii document text",
]


@pytest.fixture(scope="module")
def nfd_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nfd_docs"))
    t = pa.table(
        {
            "doc_id": pa.array(range(len(DOCS)), type=pa.int64()),
            "text": pa.array(DOCS, type=pa.string()),
            "lang": pa.array(["ko", "ko", "en", "en", "en", "en"]),
            "source": pa.array(["web"] * len(DOCS)),
            "n_chars": pa.array([len(x) for x in DOCS], type=pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(d, "documents.parquet"))
    return d


@pytest.fixture(scope="module")
def nfd_duck(nfd_dir):
    con = duckdb.connect()
    path = os.path.join(nfd_dir, "documents.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("op", ["multimodal_frame_sample", "str_encode_b64_hex"])
def test_nfd_find_op_parity(spark, nfd_dir, nfd_duck, op):
    assert_parity(_QUERIES[op](spark, nfd_dir), nfd_duck, _ORACLES[op], op)


def test_frame_count_is_char_based(spark, nfd_dir):
    """Absolute pin: doc 0 has ~108 codepoints (7 frames, stride-4
    samples {0, 4}) but ~250 bytes (16 frames, samples {0,4,8,12}) —
    the char-based contract yields exactly the former."""
    rows = (
        _QUERIES["multimodal_frame_sample"](spark, nfd_dir)
        .filter("doc_id = 0")
        .collect()
    )
    n_chars = len(DOCS[0])
    n_frames = (n_chars - 1) // 16 + 1
    expect = list(range(0, n_frames, 4))
    assert sorted(r.frame_idx for r in rows) == expect, (n_chars, rows)
    n_bytes = len(DOCS[0].encode("utf-8"))
    assert (n_bytes - 1) // 16 + 1 > n_frames  # the byte count WOULD differ
