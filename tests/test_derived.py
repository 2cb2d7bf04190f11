"""Derived on-disk state follows its sources (functions/derived.py).

Every layout copy, catalog table, MV state and staged stream source is
keyed by the content signature of the tables it was built from, so a
write to a source must never leave a key answering from the pre-write
table — with no invalidation call beyond the ordinary
``io.clear_table_cache()`` the upsert already makes.
"""

from __future__ import annotations

from scripts.check_parity import canon_frame
from tests.conftest import duck_over, upsert_orders, writable_orders_copy
from u_s__non_farm_payrolls_an_olap_analysis_spark import registry
from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import (
    incremental,
    layout,
)

DERIVED_KEYS = sorted({*layout.ORACLE, *incremental.ORACLE})


def test_derived_state_follows_upsert(spark, tmp_path):
    """Build every oracle-backed layout/incremental key's state on a
    copy of ``orders``, upsert the copy, and check each key against its
    DuckDB oracle on the NEW table — and that the rebuild left one copy
    per derived kind and build parameters, not one per table version."""
    import collections
    import os

    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions import derived

    d = str(tmp_path)
    writable_orders_copy(d)
    queries = registry.queries()
    for k in DERIVED_KEYS:
        queries[k](spark, d).collect()

    upsert_orders(spark, d)

    con = duck_over(d)
    oracles = registry.oracle_sql()
    stale = [
        k
        for k in DERIVED_KEYS
        if canon_frame(queries[k](spark, d).toPandas())
        != canon_frame(con.execute(oracles[k]).fetchdf())
    ]
    assert not stale, stale
    tag = "".join(c if c.isalnum() else "_" for c in os.path.basename(d))
    copies = collections.Counter(
        name.rsplit("_", 1)[0]
        for name in os.listdir(derived._base())
        if f"_{tag}_" in name
    )
    assert copies and set(copies.values()) == {1}, copies
