"""Metadata & member introspection API — mirrors the reference's
test/cube_test.rb scenarios (cube → dimension → hierarchy → level → member
navigation) against the TPC-H engine."""

from mondrian_olap_spark.metadata import LevelMeta, MeasureMeta, MemberMeta


def test_cube_accessors(engine):
    md = engine.metadata()
    assert md.name == "Sales"
    assert md.visible and not md.virtual
    assert "Customer" in md.dimension_names
    assert md.dimension("customer").name == "Customer"  # case-insensitive
    assert md.dimension("NoSuch") is None
    assert "Sum Qty" in md.measure_names


def test_cube_display_metadata(engine):
    """description / caption / annotations accessors (cube_test.rb:93-104;
    annotations default to {} when unset — :165-168)."""
    md = engine.metadata()
    assert md.description == "TPC-H lineitem sales cube"
    assert md.caption == "Sales"  # falls back to name
    assert md.annotations == {"source": "tpch"}
    d = md.dimension("Customer")
    assert d.annotations == {} and d.caption == "Customer"
    lv = d.level("Nation")
    assert lv.annotations == {} and lv.caption == "Nation"


def test_schema_cube_names():
    from mondrian_olap_spark.tpch import SCHEMA

    assert "Sales" in SCHEMA.cube_names


def test_dimension_and_hierarchy_accessors(engine):
    d = engine.metadata().dimension("Customer")
    assert d.dimension_type == "STANDARD"
    assert d.hierarchies == [d.hierarchy]
    assert d.level_names == ["Region", "Nation", "Customer"]
    assert d.level("Nation").name == "Nation"
    assert d.level("NoSuch") is None
    t = engine.metadata().dimension("Time")
    assert t.dimension_type == "TIME"


def test_level_navigation(engine):
    d = engine.metadata().dimension("Customer")
    region = d.level("Region")
    assert region.parent_level is None
    assert region.child_level.name == "Nation"
    assert region.descendant_level("Customer").name == "Customer"
    assert region.descendant_level("Region") is None
    assert region.members_count == 5
    names = [m.name for m in region.members]
    assert names[0] == "AFRICA" and len(names) == 5


def test_member_lookup_and_children(engine):
    md = engine.metadata()
    m = md.member("[Customer].[ASIA]")
    assert isinstance(m, MemberMeta)
    assert m.name == "ASIA" and m.full_name == "[Customer].[ASIA]"
    assert m.level.name == "Region" and m.depth == 0
    assert m.drillable and not m.all_member and not m.calculated
    kids = m.children
    assert m.children_count == len(kids) == 5  # 5 nations per region
    assert all(k.depth == 1 for k in kids)
    assert md.member("[Customer].[NOPE]") is None
    assert md.member("[NoDim].[X]") is None


def test_member_descendants_and_leaf(engine):
    md = engine.metadata()
    m = md.member("[Customer].[ASIA]")
    custs = m.descendants_at_level("Customer")
    assert custs and all(c.depth == 2 for c in custs)
    # upper level relative to the member → empty (cube_test.rb:440-443)
    assert m.descendants_at_level("Region") == []
    leaf = custs[0]
    assert not leaf.drillable and leaf.children == [] and leaf.children_count == 0


def test_member_parent_and_siblings(engine):
    md = engine.metadata()
    m = md.member("[Customer].[ASIA].[NATION_13]")
    if m is None:  # nation names differ per sf — take any child
        m = md.member("[Customer].[ASIA]").children[0]
    p = m.parent
    assert p is not None and p.name == "ASIA" and p.depth == 0
    assert p.parent is None
    sibs = m.siblings
    assert m.name in [s.name for s in sibs]
    assert all(s.depth == m.depth for s in sibs)
    assert len(sibs) == p.children_count


def test_member_typed_keys(engine):
    """Non-string level keys (Time years are ints) resolve via string
    identifiers and keep their typed path."""
    m = engine.metadata().member("[Time].[1995]")
    assert m is not None and m.path == (1995,)
    quarters = [c.name for c in m.children]
    assert quarters == ["Q1", "Q2", "Q3", "Q4"]


def test_measure_members(engine):
    md = engine.metadata()
    meas = md.member("[Measures].[Sum Qty]")
    assert isinstance(meas, MeasureMeta)
    assert meas.dimension_type == "MEASURES" and not meas.calculated
    assert md.member("[Measures].[NoSuch]") is None


def test_member_property_value(engine, duck):
    """Level properties surface per member (cube.rb:470-480): the value
    is the member's min(p_size), read through the same lookup as a
    formula's ``.Properties``; an undeclared property has none."""
    brand = engine.metadata().dimension("Part").level("Brand").members[0]
    part = brand.children[0]
    want = duck.execute(
        "SELECT min(p_size) FROM part WHERE p_brand = ? AND p_name = ?",
        [brand.name, part.name],
    ).fetchone()[0]
    assert want is not None
    assert part.property_value("part_size") == want
    assert part.property_value("nope") is None


# ---------------------------------------------------------------- locale
def test_locale_get_set_validation(engine):
    """connection_test.rb:69-86: en / en_US / de / de_DE forms accepted;
    malformed locale strings rejected."""
    import pytest

    assert engine.locale == "en"
    for loc in ("en", "en_US", "de", "de_DE"):
        e2 = engine.with_locale(loc)
        assert e2.locale == loc
    assert engine.locale == "en"  # with_locale never mutates the source
    with pytest.raises(ValueError, match="invalid locale"):
        engine.with_locale("a_b_c_d")
    with pytest.raises(ValueError, match="invalid locale"):
        engine.with_locale("")


def test_locale_selects_caption_expressions(spark):
    """Localized member captions: the level's (locale, expression) pairs
    select the caption column by the engine's locale, with bare-language
    fallback (de matches de_DE)."""
    import dataclasses

    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA

    from .conftest import SF_DIR

    sales = SCHEMA.cube("Sales")
    cust = sales.dimension("Customer")
    lv0 = dataclasses.replace(
        cust.levels[0],
        caption_locales=(
            ("en", "initcap(r_name)"),
            ("de", "concat('Region ', r_name)"),
        ),
    )
    cust2 = dataclasses.replace(cust, levels=(lv0,) + cust.levels[1:])
    sales2 = dataclasses.replace(
        sales,
        dimensions=tuple(
            cust2 if d.name == "Customer" else d for d in sales.dimensions
        ),
    )
    schema2 = dataclasses.replace(
        SCHEMA, cubes=tuple(sales2 if c.name == "Sales" else c for c in SCHEMA.cubes)
    )
    eng = engine_from_parquet(spark, schema2, "Sales", SF_DIR)

    def caps(e):
        rows = e.level_members("Customer", 0, include_properties=True).collect()
        return {r["region_name"]: r["region_name_caption"] for r in rows}

    assert caps(eng)["AFRICA"] == "Africa"  # en default
    de = eng.with_locale("de_DE")  # bare-language fallback de_DE → de
    assert caps(de)["AFRICA"] == "Region AFRICA"
    assert eng.locale == "en" and caps(eng)["AFRICA"] == "Africa"
    # in-place switch rebuilds the dimension views
    eng.locale = "de"
    assert caps(eng)["AFRICA"] == "Region AFRICA"


def test_locale_display_captions(engine):
    """Localized cube/dimension display captions resolve through
    engine.metadata() by the active locale."""
    import dataclasses

    from mondrian_olap_spark.star import CubeEngine

    cube = engine.cube
    cust = cube.dimension("Customer")
    cust2 = dataclasses.replace(
        cust, caption_locales=(("de", "Kunde"), ("fr", "Client"))
    )
    cube2 = dataclasses.replace(
        cube,
        caption_locales=(("de", "Verkäufe"),),
        dimensions=tuple(
            cust2 if d.name == "Customer" else d for d in cube.dimensions
        ),
    )
    eng = CubeEngine(cube2, engine.tables)
    assert eng.metadata().caption == "Sales"
    assert eng.metadata().dimension("Customer").caption == "Customer"
    de = eng.with_locale("de")
    assert de.metadata().caption == "Verkäufe"
    assert de.metadata().dimension("Customer").caption == "Kunde"


def test_metadata_navigation_under_level_bounded_role(spark):
    """Metadata navigation works under a role whose top_level hides
    ancestor columns (review fix: hidden ancestors crashed
    _rows_to_members with a missing-column error)."""
    from mondrian_olap_spark.roles import HierarchyGrant, Role
    from mondrian_olap_spark.tpch import get_engine

    from .conftest import SF_DIR as _SF

    eng = get_engine(spark, _SF).with_role(
        Role(
            "nation_only",
            hierarchy_grants=(
                HierarchyGrant("Customer", top_level="Nation"),
            ),
        )
    )
    members = eng.metadata().dimension("Customer").level("Nation").members
    assert len(members) == 25
    # the hidden ancestor segment surfaces as None, the own key is real
    assert all(m.path[-1] is not None for m in members)


def test_metadata_dimension_secondary_hierarchy_name(engine):
    """metadata().dimension accepts the dotted secondary-hierarchy form
    like Cube.dimension does (review fix)."""
    md = engine.metadata()
    assert md.dimension("Time.Weekly") is not None
    assert md.dimension("TimeWeekly") is not None
    assert md.dimension("NoSuch") is None


def test_parent_carries_caption(engine):
    """m.parent.caption is populated when the parent level declares a
    caption expression (review fix: caption visibility depended on the
    navigation path)."""
    m = engine.metadata().member("[Supplier].[NATION_3].[Supplier#000000003]")
    assert m is not None and m.caption is not None
    p = m.parent
    assert p.path == ("NATION_3",)
    # Nation level has no caption expression -> job-free None is fine;
    # the SUPPLIER level's caption came through on the member itself
    assert "Supplier#000000003" in m.caption


def test_level_cardinality_hint(engine):
    """cube_test.rb:258-266: level cardinality is a settable hint — the
    Integer.MIN_VALUE sentinel when unset, round-trips through set/clear,
    and (the approxRowCount role) short-circuits members_count."""
    from mondrian_olap_spark.metadata import CubeMeta
    cube = CubeMeta(engine)
    level = cube.dimension("Customer").hierarchy.levels[-1]
    assert level.cardinality == level.CARDINALITY_UNSET
    real = level.members_count
    assert real > 0
    level.cardinality = 2
    # a fresh metadata handle over the same engine sees the hint
    fresh = CubeMeta(engine).dimension("Customer").hierarchy.levels[-1]
    assert fresh.cardinality == 2
    assert fresh.members_count == 2  # hint trusted, no count job
    level.cardinality = None
    assert fresh.cardinality == fresh.CARDINALITY_UNSET
    assert fresh.members_count == real


def test_members_fetch_limit_guard(engine):
    """Driver-OOM guard on member materialization: a level whose declared
    cardinality (or actual count) exceeds engine.members_fetch_limit
    refuses `.members` with a typed error pointing at level_members();
    bounded levels are unaffected; the hint path runs NO Spark job."""
    import pytest

    from mondrian_olap_spark.metadata import CubeMeta, MembersTooLarge

    cube = CubeMeta(engine)
    level = cube.dimension("Customer").hierarchy.levels[-1]
    # declared-cardinality short-circuit (no job)
    level.cardinality = 10_000_000
    with pytest.raises(MembersTooLarge, match="declares cardinality"):
        level.members
    # the hint describes the WHOLE level: filtered navigation (children
    # of one parent) must not trip on it
    region = cube.dimension("Customer").hierarchy.root_members[0]
    assert len(region.children[0].children) > 0  # customers of one nation
    level.cardinality = None
    # actual-count probe: shrink the limit below the real member count
    real = level.members_count
    engine.members_fetch_limit = max(1, real - 1)
    try:
        with pytest.raises(MembersTooLarge, match="more than"):
            level.members
        # bounded level under the same limit still materializes
        nation = cube.dimension("Customer").hierarchy.levels[1]
        assert len(nation.members) == 25
    finally:
        del engine.members_fetch_limit
    assert len(level.members) == real  # default limit restored


def test_high_cardinality_dimension_refuses_member_arrays(spark):
    """A dimension flagged high_cardinality (schema.rb:100-101) never
    materializes member arrays to the driver, regardless of actual size;
    query planning over the same dimension still works (stays
    distributed)."""
    import dataclasses

    import pytest

    from mondrian_olap_spark.metadata import CubeMeta, MembersTooLarge
    from mondrian_olap_spark.query import Query
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA

    from .conftest import SF_DIR

    sales = SCHEMA.cube("Sales")
    dims = tuple(
        dataclasses.replace(d, high_cardinality=True)
        if d.name == "Customer" else d
        for d in sales.dimensions
    )
    sales2 = dataclasses.replace(sales, dimensions=dims)
    schema2 = dataclasses.replace(
        SCHEMA,
        cubes=tuple(sales2 if c.name == "Sales" else c for c in SCHEMA.cubes),
    )
    eng = engine_from_parquet(spark, schema2, "Sales", SF_DIR)
    dim = CubeMeta(eng).dimension("Customer")
    with pytest.raises(MembersTooLarge, match="high_cardinality"):
        dim.hierarchy.levels[1].members
    # the flag scopes to WHOLE-LEVEL arrays below the root: a browsing UI
    # still enters via root_members and drills via children/siblings
    roots = dim.hierarchy.root_members
    assert len(roots) == 5
    kids = roots[0].children
    assert kids and len(kids) == 5  # nations under one region
    assert len(kids[0].siblings) == 5
    r = (Query(eng).columns("[Measures].[Sum Qty]")
         .rows("[Customer].children").execute())
    assert r.df.count() == 5


def test_measure_cell_formatter_metadata_and_formatting(spark):
    """schema_definition_test.rb:1235-1258: measure metadata exposes
    cell_formatter_name / cell_formatter / format_string (None when
    unspecified), and a schema-declared cell formatter drives
    formatted_values like the reference's CellFormatter UDF."""
    import dataclasses

    from mondrian_olap_spark import Query
    from mondrian_olap_spark.metadata import CubeMeta
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA

    from .conftest import SF_DIR

    def integer20digits(v):
        return f"{int(v):020d}"

    sales = SCHEMA.cube("Sales")
    m0 = sales.measures[0]
    m0f = dataclasses.replace(m0, cell_formatter=integer20digits,
                              format_string=None)
    sales2 = dataclasses.replace(
        sales,
        measures=tuple(m0f if m.name == m0.name else m for m in sales.measures),
    )
    schema2 = dataclasses.replace(
        SCHEMA, cubes=tuple(sales2 if c.name == "Sales" else c for c in SCHEMA.cubes)
    )
    eng = engine_from_parquet(spark, schema2, "Sales", SF_DIR)
    meta = CubeMeta(eng).member(f"[Measures].[{m0.name}]")
    assert meta.cell_formatter_name == "integer20digits"
    assert meta.cell_formatter is integer20digits
    assert meta.format_string is None
    # a measure without a formatter reads None everywhere
    other = CubeMeta(eng).member(f"[Measures].[{sales.measures[1].name}]")
    assert other.cell_formatter is None and other.cell_formatter_name is None
    # the declared formatter drives formatted_values
    r = Query(eng).columns(f"[Measures].[{m0.name}]").execute()
    fv = r.formatted_values
    while isinstance(fv, list):
        fv = fv[0]
    assert len(fv) == 20 and fv.isdigit()


def test_single_level_high_cardinality_refuses_root_members(spark):
    """A SINGLE-level dimension's depth 0 IS its whole fine grain, so the
    high_cardinality flag refuses root-level member arrays too (a
    multi-level dimension's roots stay enumerable — that exemption is
    what the previous test pins); level_members stays available as the
    distributed escape hatch."""
    import dataclasses

    import pytest

    from mondrian_olap_spark.metadata import CubeMeta, MembersTooLarge
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA

    from .conftest import SF_DIR

    sales = SCHEMA.cube("Sales")
    dims = tuple(
        dataclasses.replace(d, high_cardinality=True)
        if d.name == "Priority" else d
        for d in sales.dimensions
    )
    sales2 = dataclasses.replace(sales, dimensions=dims)
    schema2 = dataclasses.replace(
        SCHEMA,
        cubes=tuple(sales2 if c.name == "Sales" else c for c in SCHEMA.cubes),
    )
    eng = engine_from_parquet(spark, schema2, "Sales", SF_DIR)
    dim = CubeMeta(eng).dimension("Priority")
    with pytest.raises(MembersTooLarge, match="high_cardinality"):
        dim.hierarchy.root_members
    with pytest.raises(MembersTooLarge, match="high_cardinality"):
        dim.hierarchy.levels[0].members
    # the distributed frame is always available
    assert eng.level_members("Priority", 0).count() == 5
