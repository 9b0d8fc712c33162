"""End-to-end pipeline tests — the reference's use-case suite re-expressed.

Mirrors ``src/it/scala/usecases/``: CopyCSV (1:1 copy + transformer),
MergeTwoCSV (mapping-key merge of two sources), Concatenation
(all_to_all), FK remap with generated keys, nested JSON target, and the
write-side unique filter. Golden outputs are asserted literally, like
the reference's expected-CSV strings.
"""

from __future__ import annotations

import json
import os

import pytest

from tensei_agent_spark.plans import (
    ColumnRef,
    Field,
    Mapping,
    Pipeline,
    Recipe,
    SourceSpec,
    TargetSpec,
    compile_plan,
    run_pipeline,
)

PERSONS_CSV = """1,Albert,Einstein,1879-03-14
2,Marie,Curie,1867-11-07
3,Isaac,Newton,1643-01-04
"""

SALARY_CSV = """1,2200.50
2,2800.00
3,1800.25
"""


@pytest.fixture
def persons_path(tmp_path):
    p = tmp_path / "persons.csv"
    p.write_text(PERSONS_CSV)
    return str(p)


@pytest.fixture
def salary_path(tmp_path):
    p = tmp_path / "salary.csv"
    p.write_text(SALARY_CSV)
    return str(p)


PERSON_FIELDS = (
    Field("id", "long"),
    Field("firstname"),
    Field("lastname"),
    Field("birthday", "date"),
)


def test_copy_csv_golden(spark, persons_path, tmp_path):
    """usecases/copy/CopyCSVTest.scala: 1:1 copy, one transformer."""
    out_path = str(tmp_path / "out.csv")
    p = Pipeline(
        name="copy-csv",
        sources=(SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),),
        targets=(
            TargetSpec(
                "out", "csv", out_path,
                fields=(Field("id", "long"), Field("name"), Field("birthday", "date")),
                options={"single_file": True, "order_by": ["id"]},
            ),
        ),
        recipes=(
            Recipe(
                "copy", "out",
                mappings=(
                    Mapping((ColumnRef("persons", "id"),), ("id",)),
                    Mapping(
                        (ColumnRef("persons", "firstname"), ColumnRef("persons", "lastname")),
                        ("name",),
                        mode="all_to_all",
                        transformers=(("concat", {"separator": " "}),),
                    ),
                    Mapping((ColumnRef("persons", "birthday"),), ("birthday",)),
                ),
            ),
        ),
    )
    run_pipeline(spark, p)
    got = open(out_path).read()
    assert got == (
        "1,Albert Einstein,1879-03-14\n"
        "2,Marie Curie,1867-11-07\n"
        "3,Isaac Newton,1643-01-04"
    )


def test_merge_two_csv_mapping_key(spark, persons_path, salary_path, tmp_path):
    """usecases/merge/MergeTwoCSV.scala: value-join on the shared id."""
    out_path = str(tmp_path / "merged.csv")
    p = Pipeline(
        name="merge",
        sources=(
            SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),
            SourceSpec(
                "salaries", "csv", salary_path,
                (Field("id", "long"), Field("salary", "decimal(10,2)")),
            ),
        ),
        targets=(
            TargetSpec(
                "out", "csv", out_path,
                fields=(Field("id", "long"), Field("lastname"), Field("salary", "decimal(10,2)")),
                options={"single_file": True, "order_by": ["id"]},
            ),
        ),
        recipes=(
            Recipe(
                "merge", "out", mapping_key="id",
                mappings=(
                    Mapping((ColumnRef("persons", "id"),), ("id",)),
                    Mapping(
                        (ColumnRef("persons", "lastname"),), ("lastname",),
                        transformers=(("lower_or_upper", {"perform": "upper"}),),
                    ),
                    Mapping((ColumnRef("salaries", "salary"),), ("salary",)),
                ),
            ),
        ),
    )
    run_pipeline(spark, p)
    assert open(out_path).read() == (
        "1,EINSTEIN,2200.50\n2,CURIE,2800.00\n3,NEWTON,1800.25"
    )


def test_row_aligned_merge_min_rows(spark, persons_path, tmp_path):
    """RecipeWorker maxLoops = min(N, M): zip 3-row persons with a 2-row
    side — output must have 2 rows, positionally matched."""
    short_csv = tmp_path / "tags.csv"
    short_csv.write_text("alpha\nbeta\n")
    out_path = str(tmp_path / "zipped.csv")
    p = Pipeline(
        name="zip",
        sources=(
            SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),
            SourceSpec("tags", "csv", str(short_csv), (Field("tag"),)),
        ),
        targets=(
            TargetSpec("out", "csv", out_path,
                       options={"single_file": True, "order_by": ["id"]}),
        ),
        recipes=(
            Recipe(
                "zip", "out",
                order_by={"persons": ["id"], "tags": ["tag"]},
                mappings=(
                    Mapping((ColumnRef("persons", "id"),), ("id",)),
                    Mapping((ColumnRef("tags", "tag"),), ("tag",)),
                ),
            ),
        ),
    )
    run_pipeline(spark, p)
    assert open(out_path).read() == "1,alpha\n2,beta"


def test_unique_filter_and_defaults(spark, tmp_path):
    """BaseWriterFilterWorker dedup + default-value substitution."""
    src = tmp_path / "dups.csv"
    src.write_text("a,1\na,2\nb,\nc,4\n")
    out_path = str(tmp_path / "dedup.csv")
    p = Pipeline(
        name="dedup",
        sources=(SourceSpec("s", "csv", str(src), (Field("k"), Field("v", "long"))),),
        targets=(
            TargetSpec(
                "out", "csv", out_path,
                fields=(Field("k", unique=True), Field("v", "long", default=0)),
                options={"single_file": True, "order_by": ["k"]},
            ),
        ),
        recipes=(
            Recipe("r", "out", mappings=(
                Mapping((ColumnRef("s", "k"), ColumnRef("s", "v")), ("k", "v")),
            )),
        ),
    )
    run_pipeline(spark, p)
    # first row per unique k wins (ordered by v); empty v → default 0
    assert open(out_path).read() == "a,1\nb,0\nc,4"


def test_fk_remap_generated_keys(spark, persons_path, salary_path, tmp_path):
    """FetchForeignKeyValue + AutoIncrementValueBuffer: parent rows get
    generated keys (start=1000), child FK values are rewritten."""
    parent_out = str(tmp_path / "parent")
    child_out = str(tmp_path / "child")
    p = Pipeline(
        name="fk",
        sources=(
            SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),
            SourceSpec(
                "salaries", "csv", salary_path,
                (Field("id", "long"), Field("salary", "decimal(10,2)")),
            ),
        ),
        targets=(
            TargetSpec(
                "people", "parquet", parent_out,
                fields=(Field("pk", "long", auto_increment=True), Field("id", "long"), Field("lastname")),
                options={"natural_key": "id", "auto_increment_start": 1000},
            ),
            TargetSpec(
                "salaries_out", "parquet", child_out,
                fields=(Field("person_fk", "long"), Field("salary", "decimal(10,2)")),
                foreign_keys={"person_fk": ("people", "pk")},
            ),
        ),
        recipes=(
            # child recipe listed FIRST — the FK topo-sort must reorder
            Recipe("write_salaries", "salaries_out", mappings=(
                Mapping(
                    (ColumnRef("salaries", "id"), ColumnRef("salaries", "salary")),
                    ("person_fk", "salary"),
                ),
            )),
            Recipe("write_people", "people", mappings=(
                Mapping(
                    (ColumnRef("persons", "id"), ColumnRef("persons", "lastname")),
                    ("id", "lastname"),
                ),
            )),
        ),
    )
    plan = compile_plan(p)
    assert [r.name for r in plan.ordered_recipes] == ["write_people", "write_salaries"]
    results = run_pipeline(spark, plan)
    parent = {r["id"]: r["pk"] for r in results["write_people"].collect()}
    assert parent == {1: 1000, 2: 1001, 3: 1002}
    child = {r["person_fk"]: str(r["salary"]) for r in results["write_salaries"].collect()}
    assert child == {1000: "2200.50", 1001: "2800.00", 1002: "1800.25"}
    # and the parquet sink actually wrote both
    assert spark.read.parquet(parent_out).count() == 3
    assert spark.read.parquet(child_out).count() == 3


def test_nested_json_target(spark, persons_path, tmp_path):
    """JsonFileWriterActor parity: dotted target fields → nested JSON."""
    out_path = str(tmp_path / "out.json")
    p = Pipeline(
        name="json",
        sources=(SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),),
        targets=(
            TargetSpec(
                "out", "json", out_path,
                fields=(Field("id", "long"), Field("name.first"), Field("name.last")),
                options={"single_file": True, "order_by": ["id"]},
            ),
        ),
        recipes=(
            Recipe("r", "out", mappings=(
                Mapping(
                    (ColumnRef("persons", "id"), ColumnRef("persons", "firstname"),
                     ColumnRef("persons", "lastname")),
                    ("id", "name.first", "name.last"),
                ),
            )),
        ),
    )
    run_pipeline(spark, p)
    docs = json.loads(open(out_path).read())
    assert docs[0] == {"id": 1, "name": {"first": "Albert", "last": "Einstein"}}
    assert len(docs) == 3


def test_atomic_then_chain_composition(spark, tmp_path):
    """Atomic (fetch-time) chains run before mapping chains
    (FetcherWorker.scala:205-235 then TransformationWorker)."""
    src = tmp_path / "t.csv"
    src.write_text("  hello ,x\nWORLD,y\n")
    out_path = str(tmp_path / "out.csv")
    p = Pipeline(
        name="chain",
        sources=(SourceSpec("s", "csv", str(src), (Field("a"), Field("b"))),),
        targets=(TargetSpec("out", "csv", out_path,
                            options={"single_file": True, "order_by": ["v"]}),),
        recipes=(
            Recipe("r", "out", mappings=(
                Mapping(
                    (ColumnRef("s", "a"),), ("v",),
                    atomic=(("lower_or_upper", {"perform": "lower"}),),
                    transformers=(("lower_or_upper", {"perform": "firstupper"}),),
                ),
            )),
        ),
    )
    run_pipeline(spark, p)
    assert open(out_path).read() == "Hello\nWorld"


def test_prepare_applies_target_formatting(spark):
    """processTargetData parity (ProcessorHelpers.scala:148-212):
    decimal precision truncates to the declared target type; format
    fields re-validate and null out non-matching values."""
    from tensei_agent_spark.plans.spec import Field, TargetSpec
    from tensei_agent_spark.sinks import prepare

    df = spark.createDataFrame(
        [(1, 3.14159, "AB-12"), (2, 2.999, "nope")],
        ["id", "amount", "code"],
    )
    spec = TargetSpec(
        name="t",
        format="csv",
        uri="/tmp/unused",
        fields=(
            Field("id", "long"),
            Field("amount", "decimal(10,2)"),
            Field("code", "string", format=r"^[A-Z]{2}-\d+$"),
        ),
    )
    rows = {r["id"]: r for r in prepare(df, spec).collect()}
    assert str(rows[1]["amount"]) == "3.14"
    assert str(rows[2]["amount"]) == "3.00"
    assert rows[1]["code"] == "AB-12"
    assert rows[2]["code"] is None


def test_run_metrics_observed_on_write_job(spark, persons_path, tmp_path):
    """`metrics=` collects per-recipe rows/null accounting via
    DataFrame.observe — on the write job itself, no second scan
    (≙ the reference's progress ticks, tensei.conf:31)."""
    out_path = str(tmp_path / "out.csv")
    p = Pipeline(
        name="copy-csv-metrics",
        sources=(SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),),
        targets=(
            TargetSpec(
                "out", "csv", out_path,
                fields=(Field("id", "long"), Field("name")),
                options={"single_file": True, "order_by": ["id"]},
            ),
        ),
        recipes=(
            Recipe(
                "copy", "out",
                mappings=(
                    Mapping((ColumnRef("persons", "id"),), ("id",)),
                    Mapping((ColumnRef("persons", "firstname"),), ("name",)),
                ),
            ),
        ),
    )
    metrics: dict[str, dict] = {}
    run_pipeline(spark, p, metrics=metrics)
    assert metrics["copy"]["rows_processed"] == 3
    assert metrics["copy"]["null_cells"] == 0


def test_splitting_one_source_two_targets(spark, persons_path, tmp_path):
    """usecases/databases/Splitting.scala shape: one source fans out to
    two targets through independent recipes — names to one CSV,
    birthdays to another. Both goldens asserted literally."""
    names_path = str(tmp_path / "names.csv")
    days_path = str(tmp_path / "days.csv")
    p = Pipeline(
        name="split",
        sources=(SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),),
        targets=(
            TargetSpec(
                "names", "csv", names_path,
                fields=(Field("id", "long"), Field("name")),
                options={"single_file": True, "order_by": ["id"]},
            ),
            TargetSpec(
                "days", "csv", days_path,
                fields=(Field("id", "long"), Field("birthday", "date")),
                options={"single_file": True, "order_by": ["id"]},
            ),
        ),
        recipes=(
            Recipe(
                "r_names", "names",
                mappings=(
                    Mapping((ColumnRef("persons", "id"),), ("id",)),
                    Mapping(
                        (ColumnRef("persons", "lastname"),
                         ColumnRef("persons", "firstname")),
                        ("name",),
                        mode="all_to_all",
                        transformers=(("concat", {"separator": ", "}),),
                    ),
                ),
            ),
            Recipe(
                "r_days", "days",
                mappings=(
                    Mapping((ColumnRef("persons", "id"),), ("id",)),
                    Mapping((ColumnRef("persons", "birthday"),), ("birthday",)),
                ),
            ),
        ),
    )
    run_pipeline(spark, p)
    assert open(names_path).read() == (
        "1,\"Einstein, Albert\"\n2,\"Curie, Marie\"\n3,\"Newton, Isaac\""
    )
    assert open(days_path).read() == (
        "1,1879-03-14\n2,1867-11-07\n3,1643-01-04"
    )


def test_mapping_mode_association_pairwise(spark, persons_path, tmp_path):
    """usecases/databases/MappingModeAssociation.scala: MapOneToOne with
    several source/target pairs in ONE mapping zips them pairwise (each
    source element feeds exactly its positional counterpart), with the
    transformer chain applied per pair."""
    out_path = str(tmp_path / "assoc.csv")
    p = Pipeline(
        name="assoc",
        sources=(SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),),
        targets=(
            TargetSpec(
                "out", "csv", out_path,
                fields=(Field("fn"), Field("ln")),
                options={"single_file": True, "order_by": ["fn"]},
            ),
        ),
        recipes=(
            Recipe(
                "assoc", "out",
                mappings=(
                    Mapping(
                        (ColumnRef("persons", "firstname"),
                         ColumnRef("persons", "lastname")),
                        ("fn", "ln"),
                        mode="one_to_one",
                        transformers=(("lower_or_upper", {"perform": "upper"}),),
                    ),
                ),
            ),
        ),
    )
    run_pipeline(spark, p)
    assert open(out_path).read() == (
        "ALBERT,EINSTEIN\nISAAC,NEWTON\nMARIE,CURIE"
    )


def test_mapping_can_reference_lookup_source_key(spark, persons_path, salary_path, tmp_path):
    """A mapping may reference the mapping-key column FROM the lookup
    source; on a left-join miss that reference must be NULL (the rename
    formulation crashed with 'cannot resolve')."""
    out_path = str(tmp_path / "k.csv")
    # salary file only has ids 1..3; add a 4th person with no salary row
    with open(persons_path, "a") as fh:
        fh.write("4,Grace,Hopper,1906-12-09\n")
    p = Pipeline(
        name="lookup-key",
        sources=(
            SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),
            SourceSpec(
                "salary", "csv", salary_path,
                (Field("id", "long"), Field("amount", "decimal(10,2)")),
            ),
        ),
        targets=(
            TargetSpec(
                "out", "csv", out_path,
                fields=(Field("pid", "long"), Field("sid", "long"),
                        Field("amount", "decimal(10,2)")),
                options={"single_file": True, "order_by": ["pid"]},
            ),
        ),
        recipes=(
            Recipe(
                "r", "out",
                mapping_key="id",
                mappings=(
                    Mapping((ColumnRef("persons", "id"),), ("pid",)),
                    Mapping((ColumnRef("salary", "id"),), ("sid",)),
                    Mapping((ColumnRef("salary", "amount"),), ("amount",)),
                ),
            ),
        ),
    )
    run_pipeline(spark, p)
    lines = open(out_path).read().splitlines()
    assert lines[0] == "1,1,2200.50"
    assert lines[3] == "4,,"  # miss: lookup key and amount both NULL


def _nested_json_pipeline(persons_path, out_path, fields, mappings):
    return Pipeline(
        name="json-dotted",
        sources=(SourceSpec("persons", "csv", persons_path, PERSON_FIELDS),),
        targets=(
            TargetSpec(
                "out", "json", out_path, fields=fields,
                options={"single_file": True, "order_by": ["id"]},
            ),
        ),
        recipes=(Recipe("r", "out", mappings=tuple(mappings)),),
    )


def _names_mapping(targets):
    return Mapping(
        (ColumnRef("persons", "id"), ColumnRef("persons", "firstname"),
         ColumnRef("persons", "lastname")),
        targets,
    )


def test_nested_json_unique_dotted_field_dedups(spark, tmp_path):
    """A unique dotted field on a nested-JSON target drops its repeats
    (first row in order wins) instead of failing to resolve."""
    src = tmp_path / "dup_persons.csv"
    src.write_text(
        "1,Albert,Einstein,1879-03-14\n"
        "2,Marie,Curie,1867-11-07\n"
        "3,Albert,Newton,1643-01-04\n"
    )
    out_path = str(tmp_path / "out.json")
    p = _nested_json_pipeline(
        str(src), out_path,
        (Field("id", "long"), Field("name.first", unique=True), Field("name.last")),
        [_names_mapping(("id", "name.first", "name.last"))],
    )
    run_pipeline(spark, p)
    docs = json.loads(open(out_path).read())
    assert docs == [
        {"id": 1, "name": {"first": "Albert", "last": "Einstein"}},
        {"id": 2, "name": {"first": "Marie", "last": "Curie"}},
    ]


def test_nested_json_dotted_field_cast_to_declared_type(spark, persons_path, tmp_path):
    """A dotted field whose declared type differs from the mapped
    column's is cast, like any other target field."""
    out_path = str(tmp_path / "out.json")
    p = _nested_json_pipeline(
        persons_path, out_path,
        (Field("id", "long"), Field("key.id", "string"), Field("name.last")),
        [
            Mapping((ColumnRef("persons", "id"),), ("id",)),
            Mapping((ColumnRef("persons", "id"),), ("key.id",)),
            Mapping((ColumnRef("persons", "lastname"),), ("name.last",)),
        ],
    )
    run_pipeline(spark, p)
    docs = json.loads(open(out_path).read())
    assert docs[0] == {"id": 1, "key": {"id": "1"}, "name": {"last": "Einstein"}}
    assert len(docs) == 3


def test_run_metrics_on_nested_json_target(spark, persons_path, tmp_path):
    """`metrics=` observes dotted target columns by their full name."""
    out_path = str(tmp_path / "out.json")
    p = _nested_json_pipeline(
        persons_path, out_path,
        (Field("id", "long"), Field("name.first"), Field("name.last")),
        [_names_mapping(("id", "name.first", "name.last"))],
    )
    metrics: dict[str, dict] = {}
    run_pipeline(spark, p, metrics=metrics)
    assert metrics["r"] == {"rows_processed": 3, "null_cells": 0}


def test_rerun_reads_rewritten_source(spark, tmp_path):
    """Two runs in one session over the same source path: the second
    must see the rewritten file, not the first run's persisted frames
    (generated keys persist a range-partitioned copy of the source)."""
    src = tmp_path / "people.csv"

    def run(rows: str, name: str) -> list[str]:
        src.write_text(rows)
        out_path = str(tmp_path / name)
        p = Pipeline(
            name="rerun",
            sources=(SourceSpec("people", "csv", str(src), PERSON_FIELDS),),
            targets=(
                TargetSpec(
                    "out", "csv", out_path,
                    fields=(Field("pk", "long", auto_increment=True),
                            Field("id", "long"), Field("firstname")),
                    options={"single_file": True, "order_by": ["id"],
                             "natural_key": "id"},
                ),
            ),
            recipes=(
                Recipe("r", "out", mappings=(
                    Mapping((ColumnRef("people", "id"),
                             ColumnRef("people", "firstname")),
                            ("id", "firstname")),
                )),
            ),
        )
        run_pipeline(spark, p)
        return open(out_path).read().splitlines()

    # The generated key is added after the mapped columns.
    assert run(PERSONS_CSV, "first.csv") == [
        "1,Albert,1", "2,Marie,2", "3,Isaac,3",
    ]
    assert run(PERSONS_CSV + "4,Ada,Lovelace,1815-12-10\n", "second.csv") == [
        "1,Albert,1", "2,Marie,2", "3,Isaac,3", "4,Ada,4",
    ]
