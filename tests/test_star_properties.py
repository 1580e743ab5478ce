"""Property tests the reference implies but never had (SURVEY.md §5 item 2):
idempotency, grain invariants, RI repair, last-write-wins determinism,
surrogate-key stability, incremental ⊆ full."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.plans.fixtures_adapter import oltp_tables_from_fixtures
from export_oltp_to_olap_spark.plans.star import (
    STAR_MERGE_KEYS,
    build_star,
    build_star_incremental,
)
from export_oltp_to_olap_spark.sources.parquet import load_tables


@pytest.fixture(scope="module")
def oltp(spark, sf0001):
    tables = load_tables(
        spark, sf0001, ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    )
    return oltp_tables_from_fixtures(tables)


@pytest.fixture(scope="module", params=["dense_rank", "xxhash64"])
def star(request, oltp):
    return build_star(oltp, sk_mode=request.param)


def test_grain_invariants(star):
    """Every OLAP table is unique on its merge key — the reference's
    ON CONFLICT targets (ref :59, :74, :86, :153, :167, :181)."""
    for name, keys in STAR_MERGE_KEYS.items():
        df = getattr(star, name)
        total = df.count()
        distinct = df.select(*keys).distinct().count()
        assert total == distinct, f"{name}: {total} rows but {distinct} distinct keys"


def test_ri_every_fact_fk_resolves(star):
    """After placeholder repair, every fact FK joins to its dimension
    (ref :272-314) and no fact key is NULL (B5 guard, ref :331-334)."""
    fact = star.hecho_ventas
    for key_col, dim_name in [
        ("id_cliente", "dim_cliente"),
        ("id_categoria", "dim_categoria"),
        ("id_producto", "dim_producto"),
        ("id_tiempo", "dim_tiempo"),
        ("id_metodo_pago", "dim_metodo_pago"),
        ("id_envio", "dim_envio"),
    ]:
        assert fact.where(F.col(key_col).isNull()).count() == 0, f"NULL {key_col}"
        dim = getattr(star, dim_name)
        dim_key = dim_name.replace("dim_", "id_") if key_col.startswith("id_") else key_col
        dangling = (
            fact.select(key_col)
            .distinct()
            .join(dim, fact[key_col] == dim[key_col], "left_anti")
            .count()
        )
        assert dangling == 0, f"{dangling} fact {key_col} values missing from {dim_name}"


def test_placeholder_repair_is_exercised(star):
    """The %30 category skew in the fixtures (FIXTURES.md) guarantees
    dangling category FKs, so repair must have minted NULL placeholders —
    the test would be vacuous otherwise."""
    placeholders = star.dim_categoria.where(F.col("nombre_categoria").isNull()).count()
    assert placeholders > 0


@pytest.mark.parametrize("sk_mode", ["dense_rank", "xxhash64"])
def test_build_idempotent(oltp, sk_mode):
    """Building twice from the same inputs yields identical tables (the
    reference README's open idempotency TODO)."""
    once = build_star(oltp, sk_mode=sk_mode)
    again = build_star(oltp, sk_mode=sk_mode)
    for name in ("dim_cliente", "hecho_ventas"):
        a = sorted(tuple(r) for r in getattr(once, name).collect())
        b = sorted(tuple(r) for r in getattr(again, name).collect())
        assert a == b, f"{name} differs across rebuilds"


def test_lww_picks_latest_order(oltp):
    """dim_cliente's shipping enrich keeps the HIGHEST id_orden per
    customer — the deterministic form of the reference's scan-order LWW
    (ref :197-212; SURVEY.md §7.4)."""
    star = build_star(oltp)
    latest = (
        oltp["orden"]
        .groupBy("id_cliente")
        .agg(F.max("id_orden").alias("id_orden"))
        .join(oltp["orden"], ["id_cliente", "id_orden"])
        .select("id_cliente", F.col("ciudad_envio").alias("want_ciudad"))
    )
    got = star.dim_cliente.select("id_cliente", "ciudad")
    mismatches = got.join(latest, "id_cliente").where(
        F.col("ciudad") != F.col("want_ciudad")
    )
    assert mismatches.count() == 0


def test_xxhash_sk_no_collisions(oltp):
    """xxhash64 surrogate keys collide with ~2^-64 probability; verify
    none on the fixture dims (SURVEY.md §4.3.2 collision check)."""
    star = build_star(oltp, sk_mode="xxhash64")
    for name, (sk, *_rest) in [
        ("dim_tiempo", ("id_tiempo",)),
        ("dim_metodo_pago", ("id_metodo_pago",)),
        ("dim_envio", ("id_envio",)),
    ]:
        df = getattr(star, name)
        assert df.select(sk).distinct().count() == df.count(), f"SK collision in {name}"


def test_incremental_slice_subset_of_full(oltp):
    """Every row the §3.2 incremental rebuild emits — fact and dims — for
    one changed ventas, orden or orden_producto record exists verbatim in
    the full build (xxhash64 keys make slice and full SKs comparable,
    SURVEY.md §7.4).  The fact's products are all ``productos`` members,
    which is why no dim_producto placeholder repair is built."""
    full = build_star(oltp, sk_mode="xxhash64")
    full_rows = {name: {tuple(r) for r in df.collect()} for name, df in full.tables().items()}
    product_ids = {r[0] for r in oltp["productos"].select("id_producto").collect()}
    assert {r[0] for r in full.hecho_ventas.select("id_producto").collect()} <= product_ids

    order = 7
    venta = oltp["ventas"].where(F.col("id_orden") == order).first()["id_venta"]
    line = oltp["orden_producto"].where(F.col("id_orden") == order).first()["id_op"]
    for table, record_id in (("ventas", venta), ("orden", order), ("orden_producto", line)):
        inc = build_star_incremental(oltp, table, record_id=record_id, sk_mode="xxhash64")
        for name, df in inc.tables().items():
            inc_rows = [tuple(r) for r in df.collect()]
            if name in ("hecho_ventas", "dim_cliente"):
                assert inc_rows, f"{table}={record_id}: {name} slice is empty"
            missing = [r for r in inc_rows if r not in full_rows[name]]
            assert not missing, (
                f"{table}={record_id}: {len(missing)} {name} slice rows not in full build"
            )
