"""Full star-schema build + incremental dispatcher.

Batch mode (ref ``sync_oltp_to_olap.py`` no-args path, SURVEY.md §3.1):
one lazily-composed Spark plan builds 6 dims + 1 fact; the dims are
written concurrently, then the fact — the dims-before-fact edge of the
reference's FK topological order (ref :337-345).

Incremental mode (ref ``--table/--op/--id`` path, SURVEY.md §3.2): the
same builders parameterized by a key predicate that Catalyst pushes into
the scans.  The ``--op`` value is accepted and ignored, exactly like the
reference (deletes are not propagated; everything is an upsert —
ref :416-423, SURVEY.md §7.4).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators.ri_repair import repair_missing_dims
from export_oltp_to_olap_spark.plans.dims import (
    build_dim_categoria,
    build_dim_cliente,
    build_dim_envio,
    build_dim_metodo_pago,
    build_dim_producto,
    build_dim_tiempo,
)
from export_oltp_to_olap_spark.plans.fact import build_hecho_ventas, fact_source

# FK topological order (ref :337-345, :357-366): the six dims, then the
# fact.  The dims do not reference each other, so they are written
# concurrently; the fact is written after all of them.
STAR_WRITE_ORDER = (
    "dim_cliente",
    "dim_categoria",
    "dim_producto",
    "dim_tiempo",
    "dim_metodo_pago",
    "dim_envio",
    "hecho_ventas",
)

ORDEN_PRODUCTO_PK_CANDIDATES = ("id_op", "id_orden_producto", "id")


def resolve_orden_producto_pk(orden_producto: DataFrame) -> str:
    """The reference probes the PK name by trial queries (ref :390-399);
    with first-class schemas it's a set intersection on ``df.columns``."""
    for cand in ORDEN_PRODUCTO_PK_CANDIDATES:
        if cand in orden_producto.columns:
            return cand
    raise ValueError(
        f"orden_producto has none of {ORDEN_PRODUCTO_PK_CANDIDATES}: {orden_producto.columns}"
    )


@dataclass
class StarSchema:
    """The seven OLAP DataFrames, lazily composed.

    ``sk_mode`` records which surrogate-key scheme built the surrogate-keyed
    dims — persisted alongside written targets so a later merge can refuse
    to mix key spaces (dense_rank ids are relative to the slice that built
    them; xxhash64 ids are global — SURVEY.md §7.4).
    """

    dim_cliente: DataFrame
    dim_categoria: DataFrame
    dim_producto: DataFrame
    dim_tiempo: DataFrame
    dim_metodo_pago: DataFrame
    dim_envio: DataFrame
    hecho_ventas: DataFrame
    sk_mode: str = "dense_rank"

    def tables(self) -> dict[str, DataFrame]:
        return {name: getattr(self, name) for name in STAR_WRITE_ORDER}


def build_star(
    oltp: dict[str, DataFrame],
    sk_mode: str = "dense_rank",
    repair: bool = True,
    keep_lineage: bool = False,
) -> StarSchema:
    """Build the whole star from reference-shaped OLTP DataFrames.

    RI repair (ref :272-314): after building dims from their own sources,
    extend dim_categoria / dim_cliente with null-filled placeholders for
    any FK the fact carries that the dim lacks, so every fact row's FK
    resolves — set-wise left-anti instead of per-row probes.  The
    reference's dim_producto repair (ref :299-310) can never fire here:
    the fact source inner-joins ``productos`` on ``id_producto`` and
    dim_producto keeps every distinct ``id_producto``, so it is not built.

    ``repair=False`` skips placeholder generation — the dim-only
    incremental path (ref ``_sync_clientes``/``_sync_categorias``/
    ``_sync_productos`` upsert their dimension without touching the fact,
    ref :194-236); repairing there against an unrestricted fact source
    would mint placeholders for every key outside the slice.
    """
    dim_cliente = build_dim_cliente(oltp["clientes"], oltp["orden"])
    dim_categoria = build_dim_categoria(oltp["categoria"])
    dim_producto = build_dim_producto(oltp["productos"])
    dim_tiempo = build_dim_tiempo(oltp["ventas"], sk_mode=sk_mode)
    dim_metodo_pago = build_dim_metodo_pago(oltp["ventas"], sk_mode=sk_mode)
    dim_envio = build_dim_envio(oltp["orden"], sk_mode=sk_mode)

    fact = build_hecho_ventas(
        oltp["ventas"],
        oltp["orden"],
        oltp["orden_producto"],
        oltp["productos"],
        dim_tiempo,
        dim_metodo_pago,
        dim_envio,
        keep_lineage=keep_lineage,
    )

    if repair:
        src = fact_source(
            oltp["ventas"], oltp["orden"], oltp["orden_producto"], oltp["productos"]
        )
        dim_categoria = repair_missing_dims(src, dim_categoria, ["id_categoria"])
        dim_cliente = repair_missing_dims(src, dim_cliente, ["id_cliente"])

    return StarSchema(
        dim_cliente=dim_cliente,
        dim_categoria=dim_categoria,
        dim_producto=dim_producto,
        dim_tiempo=dim_tiempo,
        dim_metodo_pago=dim_metodo_pago,
        dim_envio=dim_envio,
        hecho_ventas=fact,
        sk_mode=sk_mode,
    )


# ---------------------------------------------------------------------------
# Incremental dispatcher (ref :348-404)
# ---------------------------------------------------------------------------


def _driver_ids(df: DataFrame, col: str) -> list:
    """The distinct non-null values of ``col`` in a key-narrowed
    (micro-batch sized) frame, collected to the driver."""
    return sorted({r[0] for r in df.select(col).where(F.col(col).isNotNull()).collect()})


def _fact_slice(
    oltp: dict[str, DataFrame], ventas_r: DataFrame, order_ids: list
) -> dict[str, DataFrame]:
    """Restrict every OLTP input to the slice one set of changed orders
    touches.  ``clientes`` is narrowed to the owners of the affected
    orders and ``productos`` to the products on their order lines, so the
    dim builders re-emit only affected members — safe for the fact chain
    because its inner joins can reach no other customer or product.  The
    customer narrowing is the reference's orden→cliente cascade (ref
    :379-386) done set-wise.

    Both id sets come back to the driver in one small collect and narrow
    by ``isin``, a filter every consumer of the slice (the fact and each
    RI repair) pushes into its scan."""
    in_orders = F.col("id_orden").isin(order_ids)
    touched = (
        oltp["orden"]
        .where(in_orders)
        .select(F.lit("clientes").alias("t"), F.col("id_cliente").alias("id"))
        .unionByName(
            oltp["orden_producto"]
            .where(in_orders)
            .select(F.lit("productos").alias("t"), F.col("id_producto").alias("id"))
        )
        .where(F.col("id").isNotNull())
        .collect()
    )
    out = dict(oltp)
    out["ventas"] = ventas_r
    for t, key in (("clientes", "id_cliente"), ("productos", "id_producto")):
        ids = sorted({r["id"] for r in touched if r["t"] == t})
        out[t] = oltp[t].where(F.col(key).isin(ids))
    return out


def filter_oltp_for_keys(
    oltp: dict[str, DataFrame], table: str, record_ids: Sequence[int]
) -> dict[str, DataFrame]:
    """Restrict the OLTP inputs to the slice affected by a set of changed
    records — the set-wise form of the reference's ``WHERE pk = %s``
    interpolation (ref :203-208, :220, :232, :250-255).  Catalyst pushes
    the resulting IN-filters into the source scans (JDBC pushdown /
    parquet row-group pruning); CDC micro-batches keep the key sets small.
    A fact-table slice runs two small collects (the affected order ids,
    then their owners and products); a dim slice runs none.

    Routing (ref :367-404):
      * clientes/categoria/productos → those dimensions' source rows
      * ventas → fact rows of those sales
      * orden → fact rows of those orders + the owning customers
        (cascade, ref :379-386)
      * orden_producto → fact rows of the parent orders (PK probe,
        ref :387-401)
      * unknown table → full rebuild (ref :402-404)
    """
    ids = [int(i) for i in record_ids]
    if not ids:
        return oltp
    t = table.lower()
    out = dict(oltp)
    if t == "clientes":
        out["clientes"] = oltp["clientes"].where(F.col("id_cliente").isin(ids))
    elif t == "categoria":
        out["categoria"] = oltp["categoria"].where(F.col("id_categoria").isin(ids))
    elif t == "productos":
        out["productos"] = oltp["productos"].where(F.col("id_producto").isin(ids))
    elif t == "ventas":
        ventas_r = oltp["ventas"].where(F.col("id_venta").isin(ids))
        return _fact_slice(oltp, ventas_r, _driver_ids(ventas_r, "id_orden"))
    elif t == "orden":
        ventas_r = oltp["ventas"].where(F.col("id_orden").isin(ids))
        orders = oltp["orden"].where(F.col("id_orden").isin(ids))
        return _fact_slice(oltp, ventas_r, _driver_ids(orders, "id_orden"))
    elif t == "orden_producto":
        pk = resolve_orden_producto_pk(oltp["orden_producto"])
        parents = _driver_ids(oltp["orden_producto"].where(F.col(pk).isin(ids)), "id_orden")
        ventas_r = oltp["ventas"].where(F.col("id_orden").isin(parents))
        return _fact_slice(oltp, ventas_r, parents)
    else:
        # unknown table → full sync fallback (ref :402-404)
        return oltp
    return out


def filter_oltp_for_key(
    oltp: dict[str, DataFrame], table: str, record_id: int | None
) -> dict[str, DataFrame]:
    """Single-record form of :func:`filter_oltp_for_keys` (ref §3.2)."""
    if record_id is None:
        return oltp
    return filter_oltp_for_keys(oltp, table, [record_id])


# ---------------------------------------------------------------------------
# Star persistence: initial load + idempotent merge (ref ON CONFLICT keys)
# ---------------------------------------------------------------------------

# Business/merge key per OLAP table — the reference's ON CONFLICT targets
# (ref :59, :74, :86, :117 via fecha, :153, :167, :181).
STAR_MERGE_KEYS: dict[str, tuple[str, ...]] = {
    "dim_cliente": ("id_cliente",),
    "dim_categoria": ("id_categoria",),
    "dim_producto": ("id_producto",),
    "dim_tiempo": ("fecha",),
    "dim_metodo_pago": ("metodo_pago",),
    "dim_envio": ("estado_envio", "metodo_envio"),
    "hecho_ventas": (
        "id_tiempo",
        "id_cliente",
        "id_producto",
        "id_categoria",
        "id_metodo_pago",
        "id_envio",
    ),
}


def star_table_path(target_dir: str, name: str) -> str:
    return os.path.join(target_dir, name)


_STAR_META_FILE = "_star_meta.json"


def _read_star_meta(target_dir: str) -> dict | None:
    import json

    meta_path = os.path.join(target_dir, _STAR_META_FILE)
    if not os.path.exists(meta_path):
        return None
    with open(meta_path, encoding="utf-8") as fh:
        return json.load(fh)


def _write_star_meta(target_dir: str, sk_mode: str) -> None:
    import json

    os.makedirs(target_dir, exist_ok=True)
    meta_path = os.path.join(target_dir, _STAR_META_FILE)
    with open(meta_path, "w", encoding="utf-8") as fh:
        json.dump({"sk_mode": sk_mode}, fh)


def _check_sk_mode(star: StarSchema, target_dir: str, overwrite: bool) -> None:
    """Refuse to mix surrogate-key spaces in one stored star.

    dense_rank ids are relative to the slice that built them; xxhash64
    ids are global.  An initial dense_rank load followed by an xxhash64
    CDC merge (or vice versa) would silently interleave two key spaces —
    the library-API hole the CLI already guards (cli.py sk_mode notice).
    The written ``_star_meta.json`` makes the stored mode first-class.
    """
    meta = None if overwrite else _read_star_meta(target_dir)
    if meta is not None and meta.get("sk_mode") not in (None, star.sk_mode):
        raise ValueError(
            f"stored star at {target_dir} was built with "
            f"sk_mode={meta['sk_mode']!r}; merging a {star.sk_mode!r} slice "
            "would mix surrogate-key spaces — rebuild with --full-refresh "
            "or build the slice with the stored mode"
        )
    _write_star_meta(target_dir, star.sk_mode)


def _write_dims_then_fact(
    star: StarSchema,
    tables: Sequence[str] | None,
    write: Callable[[str, DataFrame], None],
) -> None:
    """Run ``write(name, df)`` for each selected star table: the
    dimensions concurrently, one ``InheritableThread`` each, then
    ``hecho_ventas`` once every dimension thread has finished.

    Parquet gives per-table atomicity only, so the fact is written last
    and only if every dimension write succeeded: readers never see a fact
    whose FK dimensions have not landed (K1, ref :337-345, :406-410).  If
    a dimension write raised, the first error in ``STAR_WRITE_ORDER`` is
    re-raised and the fact is left as it was.  ``InheritableThread``
    carries the caller's local properties into each writer — above all
    its job group, under which a streaming query tracks and cancels a
    micro-batch's jobs."""
    names = [n for n in STAR_WRITE_ORDER if tables is None or n in tables]
    dims = [n for n in names if n != "hecho_ventas"]
    errors: dict[str, BaseException] = {}

    def write_dim(name: str) -> None:
        try:
            write(name, getattr(star, name))
        except BaseException as exc:  # re-raised on the caller's thread
            errors[name] = exc

    threads = [InheritableThread(lambda n=name: write_dim(n)) for name in dims]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    for name in dims:
        if name in errors:
            raise errors[name]
    if "hecho_ventas" in names:
        write("hecho_ventas", star.hecho_ventas)


def write_star(
    star: StarSchema, target_dir: str, tables: Sequence[str] | None = None
) -> None:
    """Initial full load: overwrite each OLAP table, the dims concurrently,
    then the fact (the reference's FK topological order, ref :337-345)."""
    _check_sk_mode(star, target_dir, overwrite=tables is None)
    _write_dims_then_fact(
        star,
        tables,
        lambda name, df: df.write.mode("overwrite").parquet(star_table_path(target_dir, name)),
    )


def merge_star(
    spark: SparkSession,
    star: StarSchema,
    target_dir: str,
    tables: Sequence[str] | None = None,
) -> None:
    """Idempotent key-merge of (a slice of) the star into stored targets —
    the cross-batch ON CONFLICT semantics (ref :56-93, :150-191), the dims
    concurrently, then the fact.  Raises if the stored star was built with
    a different ``sk_mode`` (key-space mixing guard)."""
    # Looked up per call, so a wrapper installed on operators.merge (the
    # benchmark's tracer) sees every table merge.
    from export_oltp_to_olap_spark.operators.merge import merge_into_parquet

    _check_sk_mode(star, target_dir, overwrite=False)
    _write_dims_then_fact(
        star,
        tables,
        lambda name, df: merge_into_parquet(
            spark, df, star_table_path(target_dir, name), STAR_MERGE_KEYS[name]
        ),
    )


def build_star_incremental(
    oltp: dict[str, DataFrame],
    table: str,
    operation: str | None = None,  # accepted, ignored (ref §3.2 note)
    record_id: int | None = None,
    sk_mode: str = "dense_rank",
) -> StarSchema:
    """Incremental rebuild: same plan, key-restricted inputs.

    The result's tables contain only the affected slice; merging them
    into stored targets is operators.merge (batch) or streaming.cdc
    (foreachBatch) — both idempotent, matching the reference's
    converge-on-re-sync behavior (SURVEY.md §2.I3).
    """
    del operation
    return build_star(filter_oltp_for_key(oltp, table, record_id), sk_mode=sk_mode)
