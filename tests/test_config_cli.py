"""Config loading, REST source semantics (mocked transport), and the
CLI entry point end-to-end."""

from __future__ import annotations

import os

import pytest

from energy_data_pipeline_project_spark.pipeline.config import (
    default_datasets,
    load_config,
)
from energy_data_pipeline_project_spark.sources.payloads import RestSource

EXAMPLE = os.path.join(os.path.dirname(__file__), "..", "examples", "config.yaml")


def test_load_example_yaml_matches_defaults():
    cfg = load_config(EXAMPLE)
    assert [d.name for d in cfg.datasets] == [
        d.name for d in default_datasets()
    ]
    power, price = cfg.datasets
    assert power.extract.entity_array == "production_types"
    assert price.extract.value_probes == ("price", "prices", "data")
    assert price.include_date is False and power.include_date is True
    assert len(cfg.dates()) == 7


def test_empty_yaml_sections_load_as_defaults():
    """`run:` / `api:` / `project:` / `datasets:` with no children
    parse as None, and `.get(key, {})` returns that None because the
    key EXISTS — load_config crashed with AttributeError before any
    validation message (r07 review). Empty sections mean defaults."""
    cfg = load_config(
        {"run": None, "api": None, "project": None, "datasets": None}
    )
    assert cfg.start_date == "2025-01-01"
    assert len(cfg.datasets) == 2  # defaults kick in


def test_project_timezone_must_be_utc():
    """The Spark session time zone is pinned to UTC, so every day is a
    UTC day: a config that declares another zone raises instead of
    being bucketed in UTC without a word. UTC and an absent key load."""
    with pytest.raises(ValueError, match="pins the Spark session time zone to UTC"):
        load_config({"project": {"timezone": "Europe/Berlin"}})
    load_config({"project": {"timezone": "UTC"}})
    load_config({"project": {}})
    load_config({})


def test_scalar_value_probes_rejected_loudly():
    """value_probes: 'price' (scalar, not a list) used to explode into
    per-CHARACTER probes via tuple('price') and silently empty the
    dataset (r07 review)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="value_probes"):
        load_config(
            {
                "datasets": [
                    {"name": "x", "extract": {"value_probes": "price"}}
                ]
            }
        )


def test_unquoted_yaml_dates_and_empty_datasets():
    """YAML parses unquoted 2025-01-01 into datetime.date, which used
    to crash dates() far from the config layer; and an explicit
    datasets: [] was silently replaced by the two default datasets —
    a live-API ingest nobody asked for (r08 review)."""
    import datetime

    import pytest as _p

    cfg = load_config(
        {"run": {"backfill": {"start_date": datetime.date(2025, 1, 1),
                              "end_date": datetime.date(2025, 1, 2)}}}
    )
    assert [d.isoformat() for d in cfg.dates()] == [
        "2025-01-01", "2025-01-02"
    ]
    with _p.raises(ValueError, match="datasets"):
        load_config({"datasets": []})


def test_both_extract_shapes_rejected_loudly():
    """A dataset with BOTH entity_array and value_probes was silently
    assigned the price ROLE (runner keys on value_probes) while its
    silver rows were entity rows (extraction prefers entity_array) —
    wrong gold with no error for a one-line config mistake (r08
    review)."""
    with pytest.raises(ValueError, match="mutually"):
        load_config(
            {
                "datasets": [
                    {
                        "name": "x",
                        "extract": {
                            "entity_array": "production_types",
                            "value_probes": ["price"],
                        },
                    }
                ]
            }
        )


def test_programmatic_spec_without_shape_fails_loudly(spark):
    """A directly-constructed DatasetSpec with the default ExtractSpec
    (no entity_array, no value_probes) must get the named error from
    extract_timeseries, not a bare F.coalesce() TypeError deep in plan
    construction (r07 review: load_config validated only the YAML
    path)."""
    import pytest as _pytest

    from energy_data_pipeline_project_spark.pipeline.config import (
        DatasetSpec,
    )
    from energy_data_pipeline_project_spark.pipeline.silver import (
        extract_timeseries,
    )

    bronze = spark.createDataFrame(
        [("de", "2025-01-01", "{}")],
        "country string, date string, payload_json string",
    )
    ds = DatasetSpec(
        name="shapeless", endpoint="x", key_column="country", key_value="de"
    )
    with _pytest.raises(ValueError, match="extract shape"):
        extract_timeseries(bronze, ds)


def test_rest_source_request_semantics(monkeypatch):
    """Reference semantics: per-day GET with start=end=day, timeout,
    raise_for_status, and the market code upper-cased (api_client.py:69)."""
    import requests

    calls = []

    class FakeResp:
        def raise_for_status(self):
            calls.append("raised_check")

        def json(self):
            return {"unix_seconds": [0.0], "price": [1.0]}

    def fake_get(url, params=None, timeout=None):
        calls.append((url, dict(params), timeout))
        return FakeResp()

    monkeypatch.setattr(requests, "get", fake_get)
    cfg = load_config(EXAMPLE)
    price_ds = cfg.datasets[1]

    # lower-cased market in config must reach the API upper-cased
    from dataclasses import replace

    lowered = replace(price_ds, key_value="de-lu")
    out = RestSource(cfg).fetch(lowered, "2025-01-03")
    assert out == {"unix_seconds": [0.0], "price": [1.0]}
    url, params, timeout = calls[0]
    assert url.endswith("/price")
    assert params == {"bzn": "DE-LU", "start": "2025-01-03", "end": "2025-01-03"}
    assert timeout == 30
    assert "raised_check" in calls


def test_rest_source_power_params(monkeypatch):
    import requests

    seen = {}

    class FakeResp:
        def raise_for_status(self):
            pass

        def json(self):
            return {}

    def fake_get(url, params=None, timeout=None):
        seen["url"], seen["params"] = url, dict(params)
        return FakeResp()

    monkeypatch.setattr(requests, "get", fake_get)
    cfg = load_config(EXAMPLE)
    RestSource(cfg).fetch(cfg.datasets[0], "2025-01-05")
    assert seen["url"].endswith("/public_power")
    assert seen["params"] == {
        "country": "de",
        "start": "2025-01-05",
        "end": "2025-01-05",
    }


def test_cli_main_fixture_run(tmp_path, capsys, spark, monkeypatch):
    """python -m energy_data_pipeline_project_spark --config ... runs the
    whole pipeline hermetically and prints the verification block."""
    import yaml

    import energy_data_pipeline_project_spark.__main__ as cli
    from energy_data_pipeline_project_spark.__main__ import main

    # reuse the shared test session; the CLI's finally-stop must not
    # tear it down for the rest of the suite
    class _NoStop:
        def __init__(self, s):
            self._s = s

        def __getattr__(self, item):
            return getattr(self._s, item)

        def stop(self):
            pass

    monkeypatch.setattr(cli, "get_spark_session", lambda **kw: _NoStop(spark))

    with open(EXAMPLE) as f:
        raw = yaml.safe_load(f)
    raw["lake_root"] = str(tmp_path / "lake")
    raw["run"]["backfill"] = {"start_date": "2025-01-01", "end_date": "2025-01-03"}
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(yaml.safe_dump(raw))

    rc = main(["--config", str(cfg_path), "--source", "fixtures"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "bronze/public_power_de: 3 rows" in out
    assert "gold/power_price_daily: 3 rows" in out


def test_cli_dir_source_requires_payload_dir(tmp_path):
    from energy_data_pipeline_project_spark.__main__ import main

    with pytest.raises(SystemExit):
        main(["--config", EXAMPLE, "--source", "dir"])


def test_cli_distributed_fetch_run(tmp_path, capsys, spark, monkeypatch):
    """--distributed-fetch routes ingestion through the executor-side
    mapInPandas path and produces the same verification counts."""
    import yaml

    import energy_data_pipeline_project_spark.__main__ as cli
    from energy_data_pipeline_project_spark.__main__ import main

    class _NoStop:
        def __init__(self, s):
            self._s = s

        def __getattr__(self, item):
            return getattr(self._s, item)

        def stop(self):
            pass

    monkeypatch.setattr(cli, "get_spark_session", lambda **kw: _NoStop(spark))

    with open(EXAMPLE) as f:
        raw = yaml.safe_load(f)
    raw["lake_root"] = str(tmp_path / "lake")
    raw["run"]["backfill"] = {"start_date": "2025-01-01", "end_date": "2025-01-03"}
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(yaml.safe_dump(raw))

    rc = main(
        [
            "--config",
            str(cfg_path),
            "--source",
            "fixtures",
            "--distributed-fetch",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "bronze/public_power_de: 3 rows" in out
    assert "gold/power_price_daily: 3 rows" in out


def test_cli_compact_after(tmp_path, capsys, spark, monkeypatch):
    """--compact-after rewrites each gold table to one file and the
    verification block still reports correct post-swap counts."""
    import glob

    import yaml

    import energy_data_pipeline_project_spark.__main__ as cli
    from energy_data_pipeline_project_spark.__main__ import main

    class _NoStop:
        def __init__(self, s):
            self._s = s

        def __getattr__(self, item):
            return getattr(self._s, item)

        def stop(self):
            pass

    monkeypatch.setattr(cli, "get_spark_session", lambda **kw: _NoStop(spark))

    with open(EXAMPLE) as f:
        raw = yaml.safe_load(f)
    raw["lake_root"] = str(tmp_path / "lake")
    raw["run"]["backfill"] = {"start_date": "2025-01-01", "end_date": "2025-01-03"}
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(yaml.safe_dump(raw))

    rc = main(
        ["--config", str(cfg_path), "--source", "fixtures", "--compact-after"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted gold/power_price_daily -> 1 file(s)" in out
    assert "gold/power_price_daily: 3 rows" in out
    files = [
        f
        for f in glob.glob(str(tmp_path / "lake/gold/power_price_daily/*"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1


def test_rest_source_retries_transient_errors(monkeypatch):
    """Transient 5xx responses retry with linear backoff; the payload
    lands on the attempt that succeeds, and sleeps happen between
    attempts only."""
    import requests

    from energy_data_pipeline_project_spark.sources.payloads import RestSource

    attempts = []
    sleeps = []

    class Resp:
        def __init__(self, status):
            self.status_code = status

        def raise_for_status(self):
            if self.status_code >= 400:
                err = requests.exceptions.HTTPError(response=self)
                raise err

        def json(self):
            return {"ok": True}

    def fake_get(url, params=None, timeout=None):
        attempts.append(1)
        return Resp(503 if len(attempts) < 3 else 200)

    monkeypatch.setattr(requests, "get", fake_get)
    cfg = load_config(EXAMPLE)
    src = RestSource(cfg, retries=3, backoff_s=2.0, _sleep=sleeps.append)
    out = src.fetch(cfg.datasets[0], "2025-01-01")
    assert out == {"ok": True}
    assert len(attempts) == 3
    assert sleeps == [2.0, 4.0]  # linear backoff between attempts


def test_rest_source_client_errors_fail_fast(monkeypatch):
    """A 404 must NOT be retried (retrying a missing day hammers the
    API); default retries=0 keeps exact reference behavior."""
    import pytest
    import requests

    from energy_data_pipeline_project_spark.sources.payloads import RestSource

    attempts = []

    class Resp:
        status_code = 404

        def raise_for_status(self):
            raise requests.exceptions.HTTPError(response=self)

        def json(self):  # pragma: no cover
            return {}

    def fake_get(url, params=None, timeout=None):
        attempts.append(1)
        return Resp()

    monkeypatch.setattr(requests, "get", fake_get)
    cfg = load_config(EXAMPLE)
    src = RestSource(cfg, retries=5, _sleep=lambda s: None)
    with pytest.raises(requests.exceptions.HTTPError):
        src.fetch(cfg.datasets[0], "2025-01-01")
    assert len(attempts) == 1  # failed fast despite retries=5


def test_rest_source_exhausted_retries_raise_last_error(monkeypatch):
    import pytest
    import requests

    from energy_data_pipeline_project_spark.sources.payloads import RestSource

    attempts = []

    def fake_get(url, params=None, timeout=None):
        attempts.append(1)
        raise requests.exceptions.ConnectionError("down")

    monkeypatch.setattr(requests, "get", fake_get)
    cfg = load_config(EXAMPLE)
    src = RestSource(cfg, retries=2, _sleep=lambda s: None)
    with pytest.raises(requests.exceptions.ConnectionError):
        src.fetch(cfg.datasets[0], "2025-01-01")
    assert len(attempts) == 3  # 1 try + 2 retries
