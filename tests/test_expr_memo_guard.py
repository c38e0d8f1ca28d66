import gc


def test_clear_all_clears_registered_caches():
    from entangledb_spark.functions import exprmemo
    calls = {"n": 0}
    @exprmemo.expr_template
    def tpl(x: int):
        calls["n"] += 1
        return ("tree", x)
    assert tpl(1) == ("tree", 1) and tpl(1) == ("tree", 1)
    assert calls["n"] == 1
    exprmemo.clear_all()
    tpl(1)
    assert calls["n"] == 2


class FakeGw: pass
class FakeSC:
    def __init__(self): self._gateway = FakeGw()
class FakeSpark:
    def __init__(self, sc): self.sparkContext = sc


def _counting_guard(monkeypatch):
    from entangledb_spark import session as S
    from entangledb_spark.functions import exprmemo
    cleared = {"n": 0}
    monkeypatch.setattr(exprmemo, "clear_all", lambda: cleared.__setitem__("n", cleared["n"] + 1))
    monkeypatch.setattr(S, "_LAST_GATEWAY", [None])
    return S._guard_expr_memo, cleared


def test_gateway_guard_clears_on_new_gateway_id(monkeypatch):
    guard, cleared = _counting_guard(monkeypatch)
    a, b = FakeSpark(FakeSC()), FakeSpark(FakeSC())
    guard(a)
    assert cleared["n"] == 0          # first sighting: nothing to clear
    guard(a)
    assert cleared["n"] == 0          # same gateway: no clear
    guard(b)
    assert cleared["n"] == 1          # new gateway: cleared


def test_gateway_guard_clears_after_gateway_is_collected(monkeypatch):
    guard, cleared = _counting_guard(monkeypatch)
    sc = FakeSC()
    guard(FakeSpark(sc))
    # the old gateway dies and a new one takes its place; CPython may give
    # the newcomer the dead one's id(), which an id-keyed guard misses
    sc._gateway = None
    gc.collect()
    sc._gateway = FakeGw()
    guard(FakeSpark(sc))
    assert cleared["n"] == 1
    guard(FakeSpark(sc))
    assert cleared["n"] == 1
