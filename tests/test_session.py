"""Session preparation: what ``session.prepare`` sets on a live session."""

from __future__ import annotations

from datawarehouse_project_spark.session import _RUNTIME_CONFS


def test_every_prepared_conf_is_runtime_modifiable(spark):
    """``prepare`` runs on every query build; a static key in its set
    makes each call raise and swallow CANNOT_MODIFY_STATIC_CONFIG, which
    cost ~25 ms a call. Static confs belong in ``get_spark``'s builder."""
    static = [k for k in _RUNTIME_CONFS if not spark.conf.isModifiable(k)]
    assert static == []
