"""Unicode-injection differential sweep: the full oracle gate on
multibyte-riddled strings.

The clean testdata is ASCII; real corpora are not. This sweep appends
a deterministic Unicode adornment (accents, Greek, emoji, Turkish
dotted/dotless I, sharp s, CJK, combining marks, NBSP, tabs) to a
rotating subset of every free-string cell and re-runs every
oracle-paired entry on the identical parquet. Any mismatch is a real
cross-engine divergence in lower()/regexp/tokenization/collation/
levenshtein — the classic portability traps. Usage:

    python tools/unicode_fuzz_sweep.py

Exits 1 on any crash or mismatch.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq
from oracle_sweep import select, session, sweep

SF_SRC = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Free-string columns to adorn. Identity/enum-ish columns that entries
# filter by exact ASCII value (event_type == 'purchase', status codes,
# priorities) are left alone — corrupting them would just shrink
# matches, testing nothing; the interesting surface is text that flows
# through tokenizers, md5s, sorts, edit distances, and LIKE/contains.
TARGET = {
    ("documents", "text"),
    ("documents", "source"),
    ("part", "p_name"),
    ("part", "p_comment"),
    ("supplier", "s_comment"),
    ("customer", "c_comment"),
    ("orders", "o_comment"),
    ("lineitem", "l_comment"),
    ("nation", "n_comment"),
    ("region", "r_comment"),
}

PALETTE = [
    " café",                 # precomposed accent
    " ΣΟΦΟΣ ΚΑΙ ς",        # Greek incl. contextual final sigma
    " \U0001f30d\U0001f680",      # emoji (surrogate pairs in UTF-16)
    " İıstanbul",       # Turkish dotted I / dotless i
    " straßeẞ",         # sharp s, capital sharp s
    " 中文测试",  # CJK
    " éclair",              # combining acute (decomposed)
    " nbsp",                 # no-break space
    "\ttab",                      # control whitespace
]


def adorn(table: str, col: str, i: int, v):
    if v is None:
        return None
    seed = zlib.crc32(f"{table}.{col}".encode()) & 0x7FFFFFFF
    r = ((seed + 2654435761 * i) >> 5) % (3 * len(PALETTE))
    if r >= len(PALETTE):  # ~2/3 of cells stay untouched
        return v
    return v + PALETTE[r]


def make_fuzzed_sf(dst: str) -> None:
    for t in TABLES:
        tab = pq.read_table(os.path.join(SF_SRC, f"{t}.parquet"))
        cols = []
        for field in tab.schema:
            col = tab.column(field.name)
            if (t, field.name) in TARGET:
                vals = [
                    adorn(t, field.name, i, v)
                    for i, v in enumerate(col.to_pylist())
                ]
                cols.append(pa.array(vals, type=field.type))
            else:
                cols.append(col)
        pq.write_table(
            pa.Table.from_arrays(cols, schema=tab.schema),
            os.path.join(dst, f"{t}.parquet"),
        )


def main() -> int:
    with tempfile.TemporaryDirectory(prefix="sf_unifuzz_") as dst:
        make_fuzzed_sf(dst)
        print(f"unicode-fuzzed copy at {dst}")

        from tests.oracle_check import compare_query

        spark = session("unicode-fuzz-sweep", 16)
        return sweep(
            "UNICODE-FUZZ SWEEP",
            select(sys.argv[1:], oracle_only=True),
            lambda name: compare_query(spark, dst, name),
        )


if __name__ == "__main__":
    sys.exit(main())
