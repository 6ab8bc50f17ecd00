"""Guard on the driver↔JVM round trips of building one validation plan.

Each pyspark call costs a fixed ~16 py4j commands whatever the size of its
expression, so a plan assembled Column by Column pays thousands of them.
The engine builds its row and window expressions as SQL text instead; this
test counts the commands one ``validate`` of ``transcripts_base.yml`` sends
on a fresh input frame (no plan memo applies), so the saved round trips
cannot silently come back. Memory releases (first line ``m``) are left out:
they follow the Python garbage collector. Every other command repeats
exactly from build to build."""

from __future__ import annotations

from py4j import clientserver

from schema_enforcer_spark.engine import ValidationEngine

# measured: 135 on every build (the Column-built plan sent 5,043)
PLAN_ROUND_TRIPS = 135


def _commands(monkeypatch, build):
    sent = []
    send = clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(clientserver.ClientServerConnection, "send_command", counting)
        out = build()
    return len(sent), out


def test_validate_plan_round_trips(spark, transcripts, base_manifest, monkeypatch):
    counts = []
    for _ in range(2):
        df = transcripts.select("*")
        n, report = _commands(monkeypatch, lambda: ValidationEngine(base_manifest).validate(df))
        report.unpersist()
        counts.append(n)
    assert counts[0] == counts[1], f"round trips differ between two identical builds: {counts}"
    assert counts[0] <= PLAN_ROUND_TRIPS, f"one validate sent {counts[0]} py4j commands (guard {PLAN_ROUND_TRIPS})"
