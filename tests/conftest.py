from __future__ import annotations

import pytest

from query_cost_feature_engineering_spark.session import get_spark
from query_cost_feature_engineering_spark.sources.images import (
    generate_images_pandas,
    generate_spine_pandas,
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="qcfe-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def images_pdf():
    return generate_images_pandas(400, n_entities=30, seed=42)


@pytest.fixture(scope="session")
def spine_pdf(images_pdf):
    return generate_spine_pandas(images_pdf, n=200, seed=43)


@pytest.fixture(scope="session")
def images_sdf(spark, images_pdf):
    return spark.createDataFrame(images_pdf).cache()


def _jobs(spark, group, fn):
    """Run ``fn`` under a job group; returns its result, the number of
    Spark jobs it launched and their stage names."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    stages = [
        tracker.getStageInfo(s).name
        for j in ids
        for s in tracker.getJobInfo(j).stageIds
    ]
    return out, len(ids), stages


def _py4j_commands(spark, build) -> int:
    """py4j commands the driver sends to the JVM while ``build()`` runs."""
    import gc

    from py4j.clientserver import ClientServerConnection

    # py4j releases a Java object when its Python proxy dies: the proxy's
    # finalizer queues a memory-delete command that a background thread
    # sends later. Collect and send the garbage of earlier tests before
    # counting, keep the cycle collector off during the build, and send
    # the build's own deletes before the count ends, so every command of
    # the build is counted and no one else's is.
    queue = spark.sparkContext._gateway._gateway_client.finalizer_deque

    def send_deletes():
        while True:
            try:
                client, target_id = queue.pop()
            except IndexError:
                return
            client.garbage_collect_object(target_id, False)

    orig = ClientServerConnection.send_command
    n = 0

    def counting(self, command):
        nonlocal n
        n += 1
        return orig(self, command)

    gc.collect()
    send_deletes()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        build()
        gc.collect()
        send_deletes()
    finally:
        ClientServerConnection.send_command = orig
        gc.enable()
    return n
