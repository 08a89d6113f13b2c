"""Role / access-control behavior — the reference's security suite shape
(/root/reference/test/connection_role_test.rb:101-184: member invisibility,
denied members, union roles; query_test.rb:1032-1057 drill-through rows)."""

import pytest

from mondrian_olap_spark.query import Query
from mondrian_olap_spark.roles import AccessDenied, HierarchyGrant, MemberGrant, Role, union_roles


def _nations(eng):
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    return {r["region_name"] for r in df.collect()}


def test_grant_restricts_members_and_totals(engine):
    role = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    eng = engine.with_role(role)
    assert _nations(eng) == {"ASIA"}
    # grand totals restricted too (rollup_policy partial)
    total = Query(eng).columns("[Measures].[Count Order]").execute().df.collect()[0]
    full = Query(engine).columns("[Measures].[Count Order]").execute().df.collect()[0]
    assert 0 < total["count_order"] < full["count_order"]


def test_base_engine_unaffected(engine):
    role = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    engine.with_role(role)
    assert len(_nations(engine)) == 5


def test_deny_subpath(engine):
    nations = sorted(
        r["nation_name"]
        for r in engine.level_members("Customer", 1, ("ASIA",)).collect()
    )
    denied = nations[0]
    role = Role(
        "asia_minus_one",
        grants=(
            MemberGrant("Customer", ("ASIA",)),
            MemberGrant("Customer", ("ASIA", denied), access="none"),
        ),
    )
    eng = engine.with_role(role)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    seen = {r["nation_name"] for r in df.collect()}
    assert denied not in seen and len(seen) == len(nations) - 1


def test_measure_allow_list(engine):
    role = Role("limited", allowed_measures=("Sum Qty",))
    eng = engine.with_role(role)
    Query(eng).columns("[Measures].[Sum Qty]").execute()  # allowed
    with pytest.raises(AccessDenied):
        Query(eng).columns("[Measures].[Sum Price]").execute()


def test_with_member_subscript_index_reads_a_measure(engine):
    """A WITH member that reads a measure only in a SQL subscript's index
    reads it: the measure is aggregated for it, and a role that denies the
    measure denies the member."""

    def pick(eng):
        return (
            Query(eng)
            .with_member("Pick")
            .as_("array(10, 20, 30)[cast(sum_price % 3 as int)]", output="pick")
            .columns("[Measures].[Pick]")
        )

    assert pick(engine).execute().df.collect()[0]["pick"] in (10, 20, 30)
    eng = engine.with_role(Role("limited", allowed_measures=("Sum Qty",)))
    with pytest.raises(AccessDenied):
        pick(eng).execute()


def test_union_roles(engine):
    asia = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    europe = Role("europe", grants=(MemberGrant("Customer", ("EUROPE",)),))
    both = union_roles("asia_europe", asia, europe)
    assert _nations(engine.with_role(both)) == {"ASIA", "EUROPE"}


def test_role_filters_drill_through(engine):
    role = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    eng = engine.with_role(role)
    df = eng.drill_through(
        where=["[Time].[1995]"],
        fields=[("region_name", "[Customer].[Region]"), ("qty", "l_quantity")],
        max_rows=5000,
    )
    assert {r["region_name"] for r in df.collect()} == {"ASIA"}


def test_rollup_policy_full(engine):
    """'full' rollup policy: member lists restricted, totals not
    (schema.rb rollup_policy)."""
    full_role = Role(
        "asia_full",
        grants=(MemberGrant("Customer", ("ASIA",)),),
        rollup_policy="full",
    )
    eng = engine.with_role(full_role)
    # grouped axis: only granted members visible
    assert _nations(eng) == {"ASIA"}
    # grand total without the dimension: unrestricted
    total = Query(eng).columns("[Measures].[Count Order]").execute().df.collect()[0]
    base = Query(engine).columns("[Measures].[Count Order]").execute().df.collect()[0]
    assert total["count_order"] == base["count_order"]
    # other-dimension rollups also unrestricted
    flags = Query(eng).columns("[Measures].[Count Order]").rows("[ReturnFlag].children").execute().df
    base_flags = Query(engine).columns("[Measures].[Count Order]").rows("[ReturnFlag].children").execute().df
    assert sorted(map(tuple, flags.collect())) == sorted(map(tuple, base_flags.collect()))


def test_rollup_policy_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rollup_policy"):
        Role("bad", rollup_policy="nope")


def test_rollup_policy_hidden_nulls_totals(engine):
    """'hidden': totals above the grant grain are NULL, granted detail rows
    keep their values (schema.rb:468-489)."""
    role = Role(
        "asia_hidden",
        grants=(MemberGrant("Customer", ("ASIA",)),),
        rollup_policy="hidden",
    )
    eng = engine.with_role(role)
    # grand total does not group Customer → rolls over non-granted → NULL
    total = Query(eng).columns("[Measures].[Count Order]").execute().df.collect()[0]
    assert total["count_order"] is None
    # region-grain rows are decidable and granted → visible values
    rows = (
        Query(eng)
        .columns("[Measures].[Count Order]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df
        .collect()
    )
    assert {r["region_name"] for r in rows} == {"ASIA"}
    assert all(r["count_order"] is not None for r in rows)
    # rollup totals rows (NULL region key) hidden, detail rows visible
    tot = (
        Query(eng)
        .columns("[Measures].[Count Order]")
        .rows("[Customer].[Region].Members")
        .totals("rollup")
        .execute()
        .df
        .collect()
    )
    for r in tot:
        if r["region_name"] is None:
            assert r["count_order"] is None
        else:
            assert r["count_order"] is not None


def test_rollup_policy_hidden_other_dim_rollup_hidden(engine):
    """Grouping a different dimension still rolls over non-granted Customer
    members → hidden."""
    role = Role(
        "asia_hidden",
        grants=(MemberGrant("Customer", ("ASIA",)),),
        rollup_policy="hidden",
    )
    eng = engine.with_role(role)
    rows = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children")
        .execute()
        .df
        .collect()
    )
    assert rows and all(r["sum_qty"] is None for r in rows)


def test_include_empty_honors_grants(engine):
    """The expanded (include_empty) grid must not leak non-granted members
    even as NULL rows (STATUS leak #8; member invisibility is absolute)."""
    role = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    eng = engine.with_role(role)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .include_empty()
        .execute()
        .df
    )
    assert {r["region_name"] for r in df.collect()} == {"ASIA"}


def test_bottom_only_grant_keeps_all_member(engine):
    """A hierarchy grant that sets only bottom_level leaves topLevel at
    the hierarchy top (schema.rb HierarchyGrant default), so the
    synthetic All member — and [Dim].DefaultMember — stays accessible;
    only an explicit top_level BELOW the first level denies it."""
    from mondrian_olap_spark.roles import HierarchyGrant

    bottom_only = Role(
        "bottom_only",
        hierarchy_grants=(HierarchyGrant("Customer", bottom_level="Nation"),),
    )
    eng = engine.with_role(bottom_only)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].DefaultMember")
        .execute()
        .df
    )
    assert df.count() == 1  # the grand-total All row
    # an EXPLICIT top_level denies All even at the first level — only an
    # unset topLevel defaults to the hierarchy top (Mondrian semantics)
    for top in ("Region", "Nation"):
        explicit = Role(
            f"{top.lower()}_top",
            hierarchy_grants=(
                HierarchyGrant("Customer", top_level=top, bottom_level="Nation"),
            ),
        )
        with pytest.raises(AccessDenied, match=r"\(All\)"):
            Query(engine.with_role(explicit)).columns(
                "[Measures].[Sum Qty]"
            ).rows("[Customer].DefaultMember").execute()
    # role-union loosest bounds: one unset-top grant re-admits All
    union_role = Role(
        "union",
        hierarchy_grants=(
            HierarchyGrant("Customer", top_level="Region", bottom_level="Nation"),
            HierarchyGrant("Customer", bottom_level="Region"),
        ),
    )
    assert (
        Query(engine.with_role(union_role))
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].DefaultMember")
        .execute()
        .df.count()
        == 1
    )


def test_hierarchy_grant_level_bounds(engine):
    """top_level/bottom_level grants (schema.rb:440-466): querying or
    listing levels outside the bounds is denied."""
    from mondrian_olap_spark.roles import HierarchyGrant

    role = Role(
        "nation_only",
        hierarchy_grants=(
            HierarchyGrant("Customer", top_level="Region", bottom_level="Nation"),
        ),
    )
    eng = engine.with_role(role)
    # within bounds: fine
    Query(eng).columns("[Measures].[Sum Qty]").rows(
        "[Customer].[Nation].Members"
    ).execute()
    # below bottom_level: denied
    with pytest.raises(AccessDenied, match="Customer"):
        Query(eng).columns("[Measures].[Sum Qty]").rows(
            "[Customer].[Customer].Members"
        ).execute()
    # member metadata queries honor the bounds too
    with pytest.raises(AccessDenied):
        eng.level_members("Customer", 2)


def test_member_list_honors_grants(engine):
    """engine.level_members hides non-granted members (absolute
    invisibility — connection_role_test.rb:101-184)."""
    role = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    eng = engine.with_role(role)
    regions = {r["region_name"] for r in eng.level_members("Customer", 0).collect()}
    assert regions == {"ASIA"}
    # nations under the granted region remain visible
    nations = eng.level_members("Customer", 1, ("ASIA",)).count()
    assert nations == 5


def test_full_policy_still_restricts_drill_through(engine):
    full_role = Role(
        "asia_full",
        grants=(MemberGrant("Customer", ("ASIA",)),),
        rollup_policy="full",
    )
    eng = engine.with_role(full_role)
    df = eng.drill_through(
        where=["[Time].[1995]"],
        fields=[("region_name", "[Customer].[Region]"), ("qty", "l_quantity")],
    )
    assert {r["region_name"] for r in df.collect()} == {"ASIA"}


def test_schema_role_registry(spark):
    """Schema-declared roles selected by name; several names union;
    unknown names raise (connection_role_test.rb:105-134)."""
    from mondrian_olap_spark.model import Schema
    from mondrian_olap_spark.roles import MemberGrant, Role
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA as BASE

    import dataclasses

    from .conftest import SF_DIR

    asia = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    europe = Role("europe", grants=(MemberGrant("Customer", ("EUROPE",)),))
    schema = dataclasses.replace(BASE, roles=(asia, europe))
    assert schema.role_names == ["asia", "europe"]
    eng = engine_from_parquet(spark, schema, "Sales", SF_DIR)
    assert eng.role_name is None
    with pytest.raises(KeyError):
        eng.set_role_name("nope")
    eng.set_role_name("asia")
    assert eng.role_name == "asia"
    regions = {
        r["region_name"]
        for r in Query(eng).columns("[Measures].[Sum Qty]")
        .rows("[Customer].children").execute().df.collect()
    }
    assert regions == {"ASIA"}
    eng.set_role_name("asia", "europe")
    regions = {
        r["region_name"]
        for r in Query(eng).columns("[Measures].[Sum Qty]")
        .rows("[Customer].children").execute().df.collect()
    }
    assert regions == {"ASIA", "EUROPE"}
    eng.set_role_name()
    assert eng.role_name is None


def test_hierarchy_grant_hides_ancestor_columns(engine):
    """top_level bounds hide ancestor LEVEL COLUMNS, not just deeper
    levels: a Nation-bounded role must not see region values in grids or
    member listings (schema.rb:440-466 absolute level invisibility)."""
    import copy

    from mondrian_olap_spark.roles import HierarchyGrant, Role

    eng = copy.copy(engine)
    eng.role = Role(
        "nation-only",
        hierarchy_grants=(HierarchyGrant("Customer", top_level="Nation"),),
    )
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    assert "region_name" not in df.columns and "nation_name" in df.columns
    listing = eng.level_members("Customer", 1)
    assert "region_name" not in listing.columns
    eng.role = None


def test_union_roles_keeps_rollup_policy():
    a = Role("a", grants=(MemberGrant("Customer", ("ASIA",)),), rollup_policy="hidden")
    b = Role("b", grants=(MemberGrant("Customer", ("EUROPE",)),), rollup_policy="hidden")
    assert union_roles("ab", a, b).rollup_policy == "hidden"
    c = Role("c", grants=(MemberGrant("Customer", ("AFRICA",)),), rollup_policy="full")
    # mixed policies: most permissive wins (union admits what any admits)
    assert union_roles("ac", a, c).rollup_policy == "full"


# ------------------------------------------ round-4 grant-semantics fixes
def test_union_role_unconstrained_constituent_admits_all(engine):
    """A union with an UNCONSTRAINED constituent must not restrict that
    dimension (review fix: flattened grants made the union MORE
    restrictive than its members)."""
    asia = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    open_role = Role("open")  # no grants at all
    u = union_roles("u", asia, open_role)
    eng = engine.with_role(u)
    assert _nations(eng) == {"AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"}


def test_union_role_denies_stay_per_constituent(engine):
    """One role's deny must not subtract from another role's allow: A
    allows ASIA minus NATION_9, B allows ASIA fully → the union sees all
    of ASIA."""
    a = Role(
        "a",
        grants=(
            MemberGrant("Customer", ("ASIA",)),
            MemberGrant("Customer", ("ASIA", "NATION_2"), access="none"),
        ),
    )
    b = Role("b", grants=(MemberGrant("Customer", ("ASIA",)),))
    from mondrian_olap_spark.query import Query

    eng = engine.with_role(union_roles("u", a, b))
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    nations = {r["nation_name"] for r in df.collect()}
    assert "NATION_2" in nations  # b's unqualified allow wins in the union
    # a alone hides it
    eng_a = engine.with_role(a)
    df_a = (
        Query(eng_a)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    assert "NATION_2" not in {r["nation_name"] for r in df_a.collect()}


def test_deny_ancestor_allow_descendant(engine):
    """Most-specific-grant-wins (review fix): allow a NATION under a
    denied REGION → the nation stays visible, the region's other nations
    are hidden."""
    from mondrian_olap_spark.query import Query

    role = Role(
        "carve",
        grants=(
            MemberGrant("Customer", ("ASIA", "NATION_2")),
            MemberGrant("Customer", ("ASIA",), access="none"),
        ),
    )
    eng = engine.with_role(role)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    nations = {r["nation_name"] for r in df.collect()}
    assert nations == {"NATION_2"}


def test_grant_deeper_than_hierarchy_raises_clearly(engine):
    role = Role(
        "deep", grants=(MemberGrant("Customer", ("ASIA", "NATION_2", "X", "Y")),)
    )
    from mondrian_olap_spark.query import Query

    with pytest.raises(ValueError, match="deeper than dimension"):
        (
            Query(engine.with_role(role))
            .columns("[Measures].[Sum Price]")
            .rows("[Customer].children")
            .execute()
        )


def test_role_predicate_not_bypassed_by_query_selection(engine):
    """SECURITY (review fix): a role's row restriction must INTERSECT the
    query's own selection, never union with it — naming an ungranted
    member must yield nothing, on aggregates AND drill-through."""
    from mondrian_olap_spark.plan import Planner
    from mondrian_olap_spark.query import Query
    from mondrian_olap_spark.members import resolve

    eng = engine.with_role(
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    )
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[EUROPE].children")
        .execute()
        .df
    )
    assert df.collect() == []  # ungranted selection -> empty, never EUROPE data
    # granted selection still works
    ok = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[ASIA].children")
        .execute()
        .df.collect()
    )
    assert len(ok) == 5 and all(r["region_name"] == "ASIA" for r in ok)
    # drill-through: an ungranted slicer returns zero raw rows
    ref = resolve(eng.cube, "[Customer].[EUROPE]")
    drill = Planner(eng).drill_through(
        [ref], [("region", "[Customer].[Region]")], max_rows=100
    )
    assert drill.collect() == []


def test_member_lookup_under_top_level_bound(engine):
    """Path-constrained member lookups work under a top_level-bounded role
    (review fix: the ancestor-path filter ran after the hidden columns
    were projected away)."""
    eng = engine.with_role(
        Role(
            "nation_only",
            hierarchy_grants=(HierarchyGrant("Customer", top_level="Nation"),),
        )
    )
    df = eng.level_members("Customer", 1, ("ASIA",))
    nations = {r["nation_name"] for r in df.collect()}
    assert nations == {"NATION_12", "NATION_17", "NATION_2", "NATION_22", "NATION_7"}
    assert "region_name" not in df.columns  # ancestor stays invisible


def test_range_endpoints_respect_member_visibility(engine):
    """member_ordinal follows the same visibility rules as every other
    lookup: a role-hidden member cannot resolve as a range endpoint
    (review fix)."""
    eng = engine.with_role(
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    )
    assert eng.member_ordinal("Customer", 0, ("ASIA",)) is not None
    with pytest.raises(KeyError):
        eng.member_ordinal("Customer", 0, ("EUROPE",))


def test_agg_scalar_subplan_respects_role(engine):
    """SECURITY pin: the Aggregate(set, expr) sub-plan runs through a
    fresh Planner over the SAME engine — the role's row restriction must
    reach it.  A set naming only ungranted members yields NULL scalars,
    never the denied members' true values."""
    from mondrian_olap_spark.query import Query

    eng = engine.with_role(
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    )

    def run(e):
        q = (
            Query(e)
            .with_member("QtySq")
            .as_("__setstat0", output="qty_sq")
            .columns("[Measures].[Sum Qty]", "[Measures].[QtySq]")
            .rows("[Time].[Year].Members")
        )
        q._stat_scalars.append(
            ("__setstat0", "sum", ("sum_qty * sum_qty",),
             ("[Customer].[EUROPE]",), None, False, False, None)
        )
        return {r["o_year"]: r["qty_sq"] for r in q.execute().df.collect()}

    restricted = run(eng)
    assert restricted  # grid rows exist (ASIA data)
    assert all(v is None for v in restricted.values())  # EUROPE denied
    unrestricted = run(engine)
    assert any(v is not None for v in unrestricted.values())


def _first_part_of_another_brand(engine):
    """(first Part brand, (second brand, its first part))."""
    brands = [r["brand"] for r in engine.level_members("Part", 0).collect()]
    part = engine.level_members("Part", 1, (brands[1],)).collect()[0]["part_name"]
    return brands[0], (brands[1], part)


def test_member_property_honours_member_grant(engine):
    """``.Properties`` reads the same visible-member frame as ``.Name``:
    a member outside the role's grant has no property value, neither in a
    formula nor through the lookup — also when the unrestricted engine
    memoized that value first (role clones share the memo dict)."""
    from mondrian_olap_spark.mdx import MdxError, execute_mdx

    granted, path = _first_part_of_another_brand(engine)
    assert engine.member_property_value("Part", 1, path, "part_size") is not None
    eng = engine.with_role(
        Role("one_brand", grants=(MemberGrant("Part", (granted,)),))
    )
    member = "[Part].[{}].[{}]".format(*path)
    for accessor in ("Properties(''part_size'')", "Name"):
        with pytest.raises(MdxError, match="not found"):
            execute_mdx(
                eng,
                f"WITH MEMBER [Measures].[p] AS '{member}.{accessor}' "
                "SELECT {[Measures].[p]} ON COLUMNS FROM [Sales]",
            )
    with pytest.raises(KeyError):
        eng.member_property_value("Part", 1, path, "part_size")


@pytest.mark.parametrize("granted", [False, True], ids=["no_role", "member_grant"])
def test_member_lookups_agree_at_depth_zero(engine, granted):
    """Listing, the positional key frame and the edge ordinals read one
    visible-member frame: at depth 0 of every Sales dimension, degenerate
    ones included, they agree on the members and on the first and last
    ordinal — with no role and under member grants."""
    eng = engine
    if granted:
        eng = engine.with_role(
            Role(
                "parity",
                grants=(
                    MemberGrant("Customer", ("ASIA",)),
                    MemberGrant("ReturnFlag", ("R",)),
                ),
            )
        )
    listings = {}
    for dim in engine.cube.dimensions:
        out = dim.levels[0].out
        listed = [r[out] for r in eng.level_members(dim.name, 0).collect()]
        ords = {
            r["k"]: r["o"] for r in eng._member_keys_at(dim.name, 0, ()).collect()
        }
        assert listed and len(listed) == len(ords), dim.name
        assert set(listed) == set(ords), dim.name
        assert eng.edge_ordinal(dim.name, 0) == ords[listed[0]], dim.name
        assert eng.edge_ordinal(dim.name, 0, last=True) == ords[listed[-1]], dim.name
        listings[dim.name] = listed
    assert len(listings) == len(engine.cube.dimensions)
    if granted:
        assert listings["Customer"] == ["ASIA"]
        assert listings["ReturnFlag"] == ["R"]
    else:
        assert len(listings["Customer"]) == 5


def test_member_memos_key_on_the_role_not_its_name(engine):
    """Role clones share the member memos, so the memo key is the role's
    grants, not its name: a second role named like the first but granting
    another brand must not read the first role's answers."""
    granted, path = _first_part_of_another_brand(engine)
    engine.member_exists("Part", 0, (granted,))  # the memo now lives on the base
    first = engine.with_role(
        Role("same_name", grants=(MemberGrant("Part", (path[0],)),))
    )
    assert first.member_exists("Part", 1, path)
    assert first.member_property_value("Part", 1, path, "part_size") is not None
    second = engine.with_role(
        Role("same_name", grants=(MemberGrant("Part", (granted,)),))
    )
    assert not second.member_exists("Part", 1, path)
    with pytest.raises(KeyError):
        second.member_property_value("Part", 1, path, "part_size")
