"""Session preparation: what ``session.prepare`` sets on a live session."""

from __future__ import annotations

from datawarehouse_project_spark.session import _RUNTIME_CONFS, prepare


def test_every_prepared_conf_is_runtime_modifiable(spark):
    """``prepare`` runs on every query build; a static key in its set
    makes each call raise and swallow CANNOT_MODIFY_STATIC_CONFIG, which
    cost ~25 ms a call. Static confs belong in ``get_spark``'s builder."""
    static = [k for k in _RUNTIME_CONFS if not spark.conf.isModifiable(k)]
    assert static == []


def test_prepare_sets_nothing_while_the_confs_are_unchanged(spark, monkeypatch):
    """A ``prepare`` whose session confs still equal the last-pinned
    snapshot is one JVM-side map comparison and sets nothing; a conf a
    caller changed is re-pinned on the next call."""
    prepare(spark)
    sets = []
    conf_type = type(spark.conf)
    real_set = conf_type.set

    def counting_set(self, key, value):
        sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(conf_type, "set", counting_set)
    prepare(spark)
    assert sets == []
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    sets.clear()
    prepare(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert sorted(sets) == sorted(_RUNTIME_CONFS)
