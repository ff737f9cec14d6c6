"""Model registry: name → (layer, deps, sources, builder).

A builder is ``fn(ref, src) -> DataFrame`` where ``ref(name)`` resolves
an upstream model and ``src(name)`` a raw source table — the engine's
analog of dbt's ``{{ ref() }}`` / ``{{ source() }}``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

Ref = Callable[[str], DataFrame]

LAYERS = ("bronze", "silver", "gold", "work")


@dataclass(frozen=True)
class Layout:
    """Per-model physical layout + data-skipping metadata, honored by
    ``Runner(materialize="versioned")`` and ``merge_refresh`` — the
    engine's analog of the micro-partition pruning the reference's
    dynamic tables inherit from Snowflake for free
    (reference dbt_project.yml:33-47: every table materialization is
    automatically clustered/pruned by Snowflake's metadata service).

    - ``range_by``: ``repartitionByRange`` keys applied before the
      write, so per-file min/max for those columns is NARROW — the
      precondition for ``stats_cols`` pruning to bite.
    - ``zorder``: two-column normalized Z-order clustering instead of
      a single-dim range (requires ``files``); prunes on BOTH dims.
    - ``stats_cols``: per-file min/max/nulls recorded in the commit
      entry → ``VersionedTable.read_where`` range pruning.
    - ``bloom_cols``: per-file Bloom bitmaps (int/string columns
      only — enforced) → ``read_where_eq/_in`` point pruning on keys
      the sort does NOT cover.
    - ``files``: explicit output-partition count for the layout
      shuffle (None → Spark's default parallelism). At 100 TB leave
      None and let AQE size partitions; the explicit knob exists for
      Z-order (which must pick a grid) and for tests.
    """

    stats_cols: tuple[str, ...] = ()
    bloom_cols: tuple[str, ...] = ()
    range_by: tuple[str, ...] = ()
    zorder: tuple[str, str] | None = None
    files: int | None = None

    def __post_init__(self) -> None:
        if self.zorder and self.range_by:
            raise ValueError("layout: zorder and range_by are exclusive")
        if self.zorder and not self.files:
            raise ValueError("layout: zorder needs an explicit files=")


@dataclass(frozen=True)
class Model:
    name: str
    layer: str
    deps: tuple[str, ...]
    sources: tuple[str, ...]
    build: Callable[[Ref, Ref], DataFrame]
    #: entity key for SCD2-versioned models — enables row-level
    #: incremental refresh (Runner.merge_refresh): build() over delta
    #: sources, then merge_scd2 against the existing table.
    scd2_key: str | None = None
    #: physical layout for versioned materialization (None = plain
    #: write, no skipping metadata).
    layout: Layout | None = None
    #: (column_name, sql_expr) for PARTITION-SCOPED incremental merge
    #: (VERDICT r10 item 1): versioned materialization stores the model
    #: under an INTERNAL partition manifest keyed by this derived
    #: column (``partitioned_upsert(internal=True)``), and
    #: ``Runner.merge_refresh`` rewrites only the partitions a delta
    #: touches instead of copy-on-writing the whole table. The expr is
    #: evaluated over the model's OUTPUT columns and MUST be a pure
    #: function of ``scd2_key`` (checked per batch by the upsert's
    #: key-spread guard). The column never appears in reads — it is a
    #: storage detail, so the model's user-visible schema is unchanged.
    merge_partition: tuple[str, str] | None = None


MODELS: dict[str, Model] = {}


def model(
    layer: str,
    deps: tuple[str, ...] = (),
    sources: tuple[str, ...] = (),
    scd2_key: str | None = None,
    layout: Layout | None = None,
    merge_partition: tuple[str, str] | None = None,
):
    assert layer in LAYERS, layer
    assert not (merge_partition and layout), \
        "merge_partition and layout are exclusive (partition manifest " \
        "vs plain-snapshot skipping)"
    assert not merge_partition or scd2_key, \
        "merge_partition needs scd2_key (the partition expr must be a " \
        "function of the merge key)"

    def wrap(fn: Callable[[Ref, Ref], DataFrame]):
        name = fn.__name__
        assert name not in MODELS, f"duplicate model {name}"
        MODELS[name] = Model(name, layer, tuple(deps), tuple(sources), fn,
                             scd2_key, layout, merge_partition)
        return fn

    return wrap


def all_models() -> dict[str, Model]:
    # imports register the models
    from dbt_tpcdi_spark.plans.models import bronze, gold, silver  # noqa: F401

    return dict(MODELS)
