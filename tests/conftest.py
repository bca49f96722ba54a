import pytest


@pytest.fixture(scope="session")
def spark():
    from rasteret_spark.session import get_spark

    s = get_spark(app="rasteret-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def images_pdf():
    from rasteret_spark.sources import synthetic as syn

    return syn.images_table(60).to_pandas()


@pytest.fixture(scope="session")
def images_df(spark, images_pdf):
    df = spark.createDataFrame(images_pdf)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def aois_pdf():
    from rasteret_spark.sources import synthetic as syn

    return syn.aois_table(30).to_pandas()


@pytest.fixture(scope="session")
def points_pdf():
    from rasteret_spark.sources import synthetic as syn

    return syn.points_table(80).to_pandas()


def _blob_exchanges(df, col: str = "bytes") -> int:
    """Shuffle exchanges in ``df``'s physical plan whose output carries the
    blob column ``col``.  The plan is made afresh with size-based
    auto-broadcast off — the shape a join takes when neither side is small,
    as above the pair bound at scale — and walked before it runs, on AQE's
    initial plan, which holds every exchange the planner placed (broadcast
    exchanges are not counted)."""
    spark = df.sparkSession
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the initial plan until it runs
    finally:
        spark.conf.set(key, old)
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange" and any(
            a.split("#")[0] == col for a in node.output().mkString(",").split(",")
        ):
            n += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


@pytest.fixture(scope="session")
def blob_exchanges():
    return _blob_exchanges
