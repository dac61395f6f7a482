"""Session helpers work on any caller's session, not only ``get_spark``'s."""

from types import SimpleNamespace

from datasketches_pig_spark.session import warm_python_workers


def test_warm_python_workers_sizes_from_default_parallelism(spark):
    """A caller's ``local[*]`` (or ``local[N,F]``) master string is not an
    integer core count: the warm-up takes its task count from the context's
    ``defaultParallelism`` instead of parsing the master."""
    widths = []

    def range_(n, numPartitions):
        widths.append(numPartitions)
        return spark.range(n, numPartitions=numPartitions)

    for master in ("local[*]", "local[2,3]"):
        caller = SimpleNamespace(
            sparkContext=SimpleNamespace(master=master, defaultParallelism=2),
            range=range_,
        )
        warm_python_workers(caller)
    assert widths == [2, 2]
