"""Invariants of scripts/make_scaled_sf.py, the NX scale-up builder used
for scaling-trend measurement.

A scaling receipt is only meaningful if the replicated data preserves
workload character: FK fan-outs intact, cross-copy documents NOT
near-duplicates (else the dedup pair bill turns quadratic and poisons the
trend), cross-copy embeddings decorrelated, dims fixed. These tests pin
exactly those properties at N=2 over sf0.001.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SRC), reason="driver testdata not mounted"
)


@pytest.fixture(scope="module")
def scaled(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sfscaled"))
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_scaled_sf.py"),
         SRC, dst, "2"],
        check=True, capture_output=True,
    )
    return dst


def _grams(text: str, n: int = 3) -> set:
    w = text.split()
    return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}


def test_fk_families_have_zero_orphans(scaled):
    con = duckdb.connect()
    for child, ck, parent, pk in [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]:
        n = con.sql(
            f"select count(*) from '{scaled}/{child}.parquet' c"
            f" left join '{scaled}/{parent}.parquet' p on c.{ck} = p.{pk}"
            f" where p.{pk} is null"
        ).fetchone()[0]
        assert n == 0, f"{child}.{ck} -> {parent}.{pk}: {n} orphans"


def test_row_counts_and_key_cardinality_double(scaled):
    con = duckdb.connect()
    for table, key in [
        ("lineitem", None), ("orders", "o_orderkey"), ("customer", "c_custkey"),
        ("documents", "doc_id"), ("embeddings", "vec_id"),
        ("events", "event_id"),
    ]:
        base = con.sql(f"select count(*) from '{SRC}/{table}.parquet'").fetchone()[0]
        got = con.sql(f"select count(*) from '{scaled}/{table}.parquet'").fetchone()[0]
        assert got == 2 * base, f"{table}: {got} != 2*{base}"
        if key:
            nk = con.sql(
                f"select count(distinct {key}) from '{scaled}/{table}.parquet'"
            ).fetchone()[0]
            assert nk == got, f"{table}.{key} not unique after offset"


def test_dims_are_byte_identical(scaled):
    for dim in ("region", "nation"):
        assert pq.read_table(f"{SRC}/{dim}.parquet").equals(
            pq.read_table(f"{scaled}/{dim}.parquet")
        )


def test_cross_copy_docs_are_not_near_duplicates(scaled):
    con = duckdb.connect()
    n_base = con.sql(f"select count(*) from '{SRC}/documents.parquet'").fetchone()[0]
    rows = con.sql(
        f"select a.text, b.text from '{scaled}/documents.parquet' a"
        f" join '{scaled}/documents.parquet' b on b.doc_id = a.doc_id + {n_base}"
        f" where a.doc_id < 10 order by a.doc_id"
    ).fetchall()
    assert rows
    for ta, tb in rows:
        ga, gb = _grams(ta), _grams(tb)
        if not ga or not gb:
            continue
        j = len(ga & gb) / len(ga | gb)
        assert j < 0.5, f"cross-copy jaccard {j:.3f} >= near-dup threshold"
    # n_chars must describe the MUTATED text, not the base copy's
    bad = con.sql(
        f"select count(*) from '{scaled}/documents.parquet'"
        f" where n_chars <> length(text)"
    ).fetchone()[0]
    assert bad == 0


def test_cross_copy_embeddings_decorrelated_norm_preserved(scaled):
    emb = pq.read_table(f"{scaled}/embeddings.parquet").to_pandas()
    emb = emb.set_index("vec_id")["embedding"]
    n_base = len(emb) // 2
    for vid in range(0, min(20, n_base)):
        u = np.asarray(emb.loc[vid], dtype=np.float64)
        v = np.asarray(emb.loc[vid + n_base], dtype=np.float64)
        # roll preserves the component multiset exactly (norm equal up to
        # summation order, which np reorders — so compare sorted values)
        assert np.array_equal(np.sort(u), np.sort(v))
        nu, nv = np.linalg.norm(u), np.linalg.norm(v)
        assert abs(float(u @ v) / (nu * nv)) < 0.35


def test_event_window_unchanged_density_doubles(scaled):
    con = duckdb.connect()
    lo0, hi0 = con.sql(f"select min(ts), max(ts) from '{SRC}/events.parquet'").fetchone()
    lo1, hi1 = con.sql(f"select min(ts), max(ts) from '{scaled}/events.parquet'").fetchone()
    assert (lo0, hi0) == (lo1, hi1)
    u0 = con.sql(f"select count(distinct user_id) from '{SRC}/events.parquet'").fetchone()[0]
    u1 = con.sql(f"select count(distinct user_id) from '{scaled}/events.parquet'").fetchone()[0]
    assert u1 == 2 * u0


def test_cross_copy_device_keys_disjoint(scaled):
    """The props '$.k' device identifier must move with its copy (ADVICE
    r8): a verbatim-copied key stitches cross-copy users into one identity
    component, growing component sizes with N and poisoning the
    identity-stitch / connected-components scaling trend."""
    con = duckdb.connect()
    n_base = con.sql(
        f"select count(*) from '{SRC}/events.parquet'"
    ).fetchone()[0]
    shared = con.sql(
        f"""
        with k as (
          select event_id, cast(json_extract(props, '$.k') as bigint) as dev
          from '{scaled}/events.parquet' where props is not null
        )
        select count(*) from k a join k b
        on a.dev = b.dev and a.event_id < {n_base} and b.event_id >= {n_base}
        """
    ).fetchone()[0]
    assert shared == 0, f"{shared} cross-copy (base, copy) device-key pairs"
    # within-copy device structure unchanged: same distinct-count per copy
    d0 = con.sql(
        f"select count(distinct json_extract(props, '$.k'))"
        f" from '{SRC}/events.parquet'"
    ).fetchone()[0]
    d1 = con.sql(
        f"select count(distinct json_extract(props, '$.k'))"
        f" from '{scaled}/events.parquet' where event_id >= {n_base}"
    ).fetchone()[0]
    assert d1 == d0

