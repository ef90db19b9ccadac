"""The ``@register`` registry behind ``queries()`` and ``oracle_sql()``.

Spark-free: registering and ordering entries runs no query.
"""

import pytest

import __spark_entry__ as entry


def test_registering_a_name_twice_raises():
    before = dict(entry._REGISTRY)
    with pytest.raises(ValueError, match="flagship"):
        entry.register("flagship", oracle="SELECT 1")(entry.flagship)
    assert entry._REGISTRY == before


def test_queries_and_oracles_share_every_name():
    names = list(entry.queries())
    assert len(names) == len(set(names)) == 564
    assert set(names) == set(entry.oracle_sql())


def test_window_puts_never_checked_entries_first():
    # key: latest CORRECTNESS round listing the name (0 = never checked)
    last = entry._last_checked_round()
    names = list(entry.queries())
    rounds = [last.get(name, 0) for name in names]
    assert rounds == sorted(rounds)
    for r in set(rounds):  # ties keep registration order
        tier = [name for name in names if last.get(name, 0) == r]
        assert tier == [name for name in entry._REGISTRY
                        if last.get(name, 0) == r]


def test_every_entry_is_a_module_level_query_function():
    for fn in entry.queries().values():
        assert fn.__name__.startswith("q_") or fn.__name__ == "flagship"
        assert getattr(entry, fn.__name__) is fn
