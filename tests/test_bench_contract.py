"""The benchmark's contract with the engine: ``perfbench/trace.py``
patches engine functions BY NAME (module global or class attribute),
so renaming or moving one fails every traced benchmark operation. These
tests fail the suite instead. Nothing under ``perfbench/`` is edited."""

from perfbench.trace import LAYERS, Tracer, _resolve


class _StubContext:
    """Just enough SparkContext for ``Tracer`` to tag job groups."""

    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


def test_every_traced_layer_resolves_to_a_callable():
    for module, path, _name in LAYERS:
        owner, attr = _resolve(module, path)
        assert callable(getattr(owner, attr)), f"{module}:{path}"


def test_tracer_installs_and_restores_every_layer():
    originals = {}
    for module, path, _name in LAYERS:
        owner, attr = _resolve(module, path)
        originals[(module, path)] = getattr(owner, attr)
    tracer = Tracer(_StubContext(), "contract")
    tracer.install()
    try:
        for module, path, _name in LAYERS:
            owner, attr = _resolve(module, path)
            assert getattr(owner, attr) is not originals[(module, path)]
    finally:
        tracer.uninstall()
    for module, path, _name in LAYERS:
        owner, attr = _resolve(module, path)
        assert getattr(owner, attr) is originals[(module, path)]
