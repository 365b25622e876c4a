from __future__ import annotations

import json

import pytest

from platform_etl_backend_spark.engine.runner import run_steps, load_config


PATHWAYS_TSV = (
    "R-1\troot\tHomo sapiens\n"
    "R-2\tmid\tHomo sapiens\n"
    "R-3\tleaf\tHomo sapiens\n"
    "# comment line\n"
    "R-X\tmouse\tMus musculus\n"
)
RELATIONS_TSV = "R-1\tR-2\nR-2\tR-3\n"

OBO = "[Term]\nid: GO:1\nname: thing one\n\n[Term]\nid: GO:2\nname: old\nis_obsolete: true\n"


@pytest.fixture()
def config(tmp_path):
    (tmp_path / "pathways.tsv").write_text(PATHWAYS_TSV)
    (tmp_path / "relations.tsv").write_text(RELATIONS_TSV)
    (tmp_path / "go.obo").write_text(OBO)
    conf = {
        "steps": {
            "reactome": {
                "input": {
                    "pathways": {
                        "format": "csv",
                        "path": str(tmp_path / "pathways.tsv"),
                        "options": {"sep": "\t", "header": "false", "comment": "#"},
                    },
                    "relations": {
                        "format": "csv",
                        "path": str(tmp_path / "relations.tsv"),
                        "options": {"sep": "\t", "header": "false"},
                    },
                },
                "output": {
                    "reactome": {
                        "format": "parquet",
                        "path": str(tmp_path / "out" / "reactome"),
                        "write_mode": "overwrite",
                    }
                },
            },
            "go": {
                "input": {"go_terms": {"format": "obo", "path": str(tmp_path / "go.obo")}},
                "output": {
                    "go": {
                        "format": "json",
                        "path": str(tmp_path / "out" / "go"),
                        "write_mode": "overwrite",
                    }
                },
            },
        }
    }
    p = tmp_path / "conf.json"
    p.write_text(json.dumps(conf))
    return p, tmp_path


def test_run_steps_end_to_end(spark, config):
    conf_path, tmp_path = config
    run_steps(["reactome", "go"], load_config(str(conf_path)), spark=spark)

    reactome = spark.read.parquet(str(tmp_path / "out" / "reactome"))
    rows = {r.id: r for r in reactome.collect()}
    assert set(rows) == {"R-1", "R-2", "R-3"}
    assert rows["R-3"].ancestors == ["R-1", "R-2"]

    go = spark.read.json(str(tmp_path / "out" / "go"))
    assert [(r.id, r.name) for r in go.collect()] == [("GO:1", "thing one")]


def test_unknown_step_raises(spark, config):
    conf_path, _ = config
    with pytest.raises(ValueError, match="unknown step"):
        run_steps(["nope"], load_config(str(conf_path)), spark=spark)


def test_unknown_step_raises_before_any_step_runs(spark, config):
    """A bad name late in the list fails the call before the valid steps
    ahead of it write anything."""
    conf_path, tmp_path = config
    with pytest.raises(ValueError, match="unknown step.*nope"):
        run_steps(["reactome", "nope"], load_config(str(conf_path)), spark=spark)
    assert not (tmp_path / "out" / "reactome").exists()


def test_io_config_rejects_unknown_keys(spark, config):
    """A misspelt IO key (``write_mod``) or a removed layout knob raises a
    ValueError naming it, instead of being silently dropped — and the
    runner raises it before writing any output."""
    from platform_etl_backend_spark.engine.config import IOResourceConfig

    with pytest.raises(ValueError, match="write_mod"):
        IOResourceConfig.from_dict(
            {"format": "parquet", "path": "/tmp/x", "write_mod": "overwrite"}
        )
    with pytest.raises(ValueError, match="table_name"):
        IOResourceConfig.from_dict(
            {"format": "parquet", "path": "/tmp/x", "table_name": "t"}
        )
    conf_path, tmp_path = config
    conf = load_config(str(conf_path))
    conf["steps"]["go"]["output"]["go"]["write_mod"] = "overwrite"
    with pytest.raises(ValueError, match="write_mod"):
        run_steps(["reactome", "go"], conf, spark=spark)
    assert not (tmp_path / "out" / "reactome").exists()


def test_configured_output_the_step_lacks_raises(spark, config):
    """A misspelt output key (``gos``) raises a ValueError naming it after
    the step builds, and none of that step's outputs is written."""
    conf_path, tmp_path = config
    conf = load_config(str(conf_path))
    conf["steps"]["go"]["output"]["gos"] = {
        "format": "json", "path": str(tmp_path / "out" / "gos"), "write_mode": "overwrite",
    }
    with pytest.raises(ValueError, match=r"go.*\['gos'\]"):
        run_steps(["go"], conf, spark=spark)
    assert not (tmp_path / "out" / "go").exists()
    assert not (tmp_path / "out" / "gos").exists()


def test_csv_reader_options(spark, tmp_path):
    """S2 coverage: sep/comment/nullValue/header reader options."""
    from platform_etl_backend_spark.engine.config import IOResourceConfig
    from platform_etl_backend_spark.engine.io import read_single

    p = tmp_path / "data.tsv"
    p.write_text("# header comment\nid\tval\n1\tNA\n2\tx\n")
    df = read_single(
        spark,
        IOResourceConfig(
            format="csv",
            path=str(p),
            options={"sep": "\t", "header": "true", "comment": "#", "nullValue": "NA"},
        ),
    )
    rows = {r.id: r.val for r in df.collect()}
    assert rows == {"1": None, "2": "x"}


def test_cli_query_subcommand(spark, sf_dir):
    from platform_etl_backend_spark.engine.runner import run_query

    rows = run_query("q_agg_basic", sf_dir, limit=10, spark=spark)
    assert 0 < len(rows) <= 10
    assert "l_returnflag" in rows[0].asDict()


def test_cli_query_unknown_raises(spark, sf_dir):
    import pytest as _pytest

    from platform_etl_backend_spark.engine.runner import run_query

    with _pytest.raises(ValueError, match="unknown query"):
        run_query("q_nope", sf_dir, spark=spark)
