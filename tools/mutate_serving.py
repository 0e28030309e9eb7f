#!/usr/bin/env python3
"""Serving-surface mutation campaign (r13 verdict task 1 — wave 3).

The r13 campaign proved the ORACLE gate's teeth wall-to-wall; the
serving layer — REST response shaping in `server/Gateway.scala`,
WebSocket fanout/subscriptions in `server/WebSocketServer.scala`,
`next`/lookup semantics in `streaming/ChannelRuntime.scala` — is
guarded only by the ScalaTest suite, whose sensitivity was exactly as
unproven as the oracle corpus' before r13. This harness seeds
single-site mutations of those paths (each the shape of a bug a human
writes: a 404 flipped to 200, a dropped identity filter, a broken
unsubscribe, a future resolved with the previous tick) and scores each
by `sbt test`:

  1. PREFILTER: the serving-focused suites (fast, the tests most
     likely to see the bug). Any failure -> KILLED.
  2. ESCALATE: a prefilter-green mutant runs the FULL `sbt test`.
     Still green -> SURVIVED — a finding about the suite, not a pass:
     the survivor gets a new e2e test before the round closes.

Reference contract being guarded: tests/server/web/test_webserver.py
(the reference's 82-844 route-shape assertions).

Usage (from a dedicated worktree, same discipline as mutate.py):
  git clone . /tmp/graft_smut   # or: git worktree add /tmp/graft_smut HEAD
  PYTHONCOERCECLOCALE=0 python3 tools/mutate_serving.py --worktree /tmp/graft_smut \
      --out receipts/mutants_w3.jsonl [--ids s01,...]

PYTHONCOERCECLOCALE=0 keeps the test JVM on the platform's default
charset: under a C/POSIX locale Python otherwise exports
LC_CTYPE=C.UTF-8 to every child, the forked test JVM then defaults to
UTF-8, and s26 (engine log in the platform charset) cannot be told
from the UTF-8 writer.
"""
import argparse, json, os, subprocess, sys, time

GW = "src/main/scala/graft/server/Gateway.scala"
WS = "src/main/scala/graft/server/WebSocketServer.scala"
CR = "src/main/scala/graft/streaming/ChannelRuntime.scala"
SFP = "src/main/scala/graft/state/StateFastPath.scala"
RC = "src/main/scala/graft/server/RequestContract.scala"
JC = "src/main/scala/graft/streaming/JsonCodec.scala"
EL = "src/main/scala/graft/streaming/EngineLog.scala"
SK = "src/main/scala/graft/sinks/Sinks.scala"
LFS = "src/main/scala/graft/core/LocalFs.scala"
GS = "src/main/scala/graft/core/GraftSession.scala"

# (id, file, old, new, note); `old` must occur EXACTLY once.
MUTANTS = [
    ("s01_unknown_route_200", GW,
     '''          }, "graft-shutdown").start()
        case _ => respond(ex, 404, """{"detail":"Not Found"}""")''',
     '''          }, "graft-shutdown").start()
        case _ => respond(ex, 200, """{"detail":"Not Found"}""")''',
     "unknown REST route answers 200 instead of 404 (reference 404 rule)"),
    ("s02_identity_filter_anon_leak", RC,
     "case None => Nil // anonymous caller of an auth-filtered channel",
     "case None => rows // anonymous caller of an auth-filtered channel",
     "X13 (shared filter): anonymous caller of an auth-filtered channel sees EVERY row"),
    ("s03_identity_filter_wrong_row", RC,
     "case Some(id) => rows.filter(r => !r.isNullAt(i) && String.valueOf(r.get(i)) == id)",
     "case Some(id) => rows.filter(r => !r.isNullAt(i) && String.valueOf(r.get(i)) != id)",
     "X13 (shared filter): INVERTED — caller sees everyone's rows except their own"),
    ("s04_basket_last_no_404", GW,
     '''          if (!keyDeclared(name, key))
            respond(ex, 404, detailJson(s"Channel not found: $name/$key"))
          else {
            val observed = runtime.lastByBasketKey(name).collectFirst {''',
     '''          if (false)
            respond(ex, 404, detailJson(s"Channel not found: $name/$key"))
          else {
            val observed = runtime.lastByBasketKey(name).collectFirst {''',
     "/last/{ch}/{key}: an undeclared basket key no longer 404s"),
    ("s05_send_422_as_200", GW,
     '''      case e: IllegalArgumentException =>
        respond(ex, 422, detailJson(e.getMessage))
      case NonFatal(e) =>
        respond(ex, 500, detailJson(e.getMessage))''',
     '''      case e: IllegalArgumentException =>
        respond(ex, 200, detailJson(e.getMessage))
      case NonFatal(e) =>
        respond(ex, 500, detailJson(e.getMessage))''',
     "REST validation failure (send decoding, coercion) answers 200 instead of 422"),
    ("s06_send_identity_forall", RC,
     "case Some(id) if rows.forall(_.get(field).exists(v => String.valueOf(v) == id)) => ()",
     "case Some(id) if rows.forall(_.get(field).forall(v => String.valueOf(v) == id)) => ()",
     "X13 write validation (shared decoder): a row OMITTING the auth field slips past"),
    ("s07_send_key_not_injected", RC,
     "        case (Some(col), Some(k)) => m + (col -> k)",
     "        case (Some(col), Some(k)) => m",
     "send to a basket key (REST path key or WS key): the key is no longer injected as the basket key column"),
    ("s08_table_dropped_auth_leak", RC,
     "case Some(_) if i < 0 => Nil // a view that projected the auth field away",
     "case Some(_) if i < 0 => rows // a view that projected the auth field away",
     "K4 tables: a view whose projection dropped the auth field leaks every row"),
    ("s09_ws_unsubscribe_noop", WS,
     '          case "unsubscribe" => conn.subs.remove((channel, key))',
     '          case "unsubscribe" => ()',
     "WS per-key unsubscribe is a no-op — frames keep flowing"),
    ("s10_ws_fanout_ignores_subs", WS,
     "        val wantAll = subs.contains((ch, None))",
     "        val wantAll = true",
     "WS fanout ignores the subscription set — every conn gets every channel"),
    ("s11_ws_identity_any", WS,
     "        contract.visible(ch, schema, identity, rows).foreach { r =>",
     "        rows.foreach { r =>",
     "WS frames skip the shared X13 filter: every subscriber sees every row"),
    ("s12_next_resolves_previous", CR,
     "  def next(name: String): Future[Option[Row]] = {\n"
     "    val p = Promise[Option[Row]]()\n"
     "    chan(name).nextWaiters.add(p)\n"
     "    p.future\n"
     "  }",
     "  def next(name: String): Future[Option[Row]] = {\n"
     "    val p = Promise[Option[Row]]()\n"
     "    p.trySuccess(last(name))\n"
     "    p.future\n"
     "  }",
     "T6 next: future resolves immediately with the PREVIOUS tick"),
    ("s13_next_by_key_any_key", CR,
     "        rows.find(r => !r.isNullAt(i) && String.valueOf(r.get(i)) == key)",
     "        rows.find(r => !r.isNullAt(i))",
     "T6 per-key next: ANY key's tick resolves the future"),
    ("s14_whoami_anon_200", GW,
     '''            case None if simpleAuthUsers.nonEmpty =>
              respond(ex, 401, """{"detail":"Session not found"}""")''',
     '''            case None if simpleAuthUsers.nonEmpty =>
              respond(ex, 200, """{"detail":"Session not found"}""")''',
     "/whoami without a session answers 200 instead of 401"),
    ("s15_frontier_snapshot_unpublished", CR,
     "      snapshot = order match {",
     "      val unpublished = order match {",
     "state frontier: upserts land in the key map but no snapshot is published"),
    ("s16_cmp_double_compare", SFP,
     "      if (x == y) 0 else java.lang.Double.compare(x, y)",
     "      java.lang.Double.compare(x, y)",
     "fast path orders/filters doubles with Double.compare: -0.0 < 0.0, unlike Spark"),
    ("s17_frontier_key_top_level", SFP,
     "    val getters = cols.map(pathGetter(schema, _)).toArray",
     "    val getters = cols.map { k =>\n"
     "      val i = schema.fieldNames.indexOf(k)\n"
     "      (r: Row) => if (i >= 0) r.get(i) else null\n"
     "    }.toArray",
     "the shared group key resolves columns by top-level indexOf: a dotted keyby puts every frontier row under null"),
    ("s18_sse_unfiltered", GW,
     "      if (ch == name) contract.visible(name, schema, identity, rows)\n",
     "      if (ch == name) rows\n",
     "SSE frames skip the shared X13 filter: every subscriber sees every row"),
    ("s19_ws_handshake_ungated", WS,
     "    contract.admit(view) match {",
     "    (Right(view.header(\"x-identity\")): Either[Refusal, Option[String]]) match {",
     "WS handshake skips the auth gate: an unauthenticated socket is upgraded"),
    ("s20_ws_arrays_as_text", JC,
     "    else if (v.isArray) v.elements().asScala.map(jsonValue).toSeq",
     "    else if (v.isArray) v.toString",
     "the shared JSON decoder turns arrays into text: a WS send with an array field is dropped"),
    ("s21_float_as_string", JC,
     "      case FloatType => g.writeNumber(v.asInstanceOf[Float].toDouble)",
     "      case FloatType => g.writeString(String.valueOf(v))",
     "the value writer writes a float (field or array element) as a JSON string"),
    ("s22_binary_not_base64", JC,
     "      case BinaryType => g.writeBinary(v.asInstanceOf[Array[Byte]])",
     "      case BinaryType => g.writeString(String.valueOf(v))",
     "the value writer writes binary as the JVM array name instead of base64"),
    ("s23_coerce_struct_map_passthrough", JC,
     "    case (null, _) => null\n",
     "    case (null, _) => null\n    case (x, _: StructType | _: MapType) => x\n",
     "coerce passes struct and map values through untyped, as before the codec"),
    ("s24_batch_seq_descending", CR,
     "    val bySeq = java.util.Comparator.comparingLong[Row](_.getLong(seqIdx))\n",
     "    val bySeq = java.util.Comparator.comparingLong[Row](_.getLong(seqIdx)).reversed()\n",
     "the driver-side batch sort orders by descending _seq: listeners, last and state see the batch backwards"),
    ("s25_listener_unguarded", CR,
     "          listeners.forEach { l =>\n"
     "            try l(name, rows)\n"
     "            catch {\n"
     "              case NonFatal(e) =>\n"
     "                Console.err.println(s\"[graft] listener on channel '$name' failed: $e\")\n"
     "            }\n"
     "          }\n",
     "          listeners.forEach(l => l(name, rows))\n",
     "no listener guard: one throwing listener kills its channel's query"),
    ("s26_engine_log_platform_charset", EL,
     "      StandardCharsets.UTF_8.newEncoder()",
     "      java.nio.charset.Charset.defaultCharset().newEncoder()",
     "the engine log opener encodes with the platform charset instead of UTF-8"),
    ("s27_view_filter_no_widening", SFP,
     "    val common = coercion.findWiderCommonType(colType +: litTypes).filter(orderable)\n",
     "    val common = Some(colType).filter(orderable)\n",
     "view filters compare in the column's type: a double literal is narrowed to a float column instead of both widening"),
    ("s28_delta_base_raw_key", SK,
     "      val keyOf = StateFastPath.groupKey(schema, spec.stateKeyby)\n",
     "      val keyOf = (r: Row) => (spec.stateKeyby.map(k => r.get(schema.fieldIndex(k))): AnyRef)\n",
     "the delta view base keys by raw values: two NaN state keys are two rows"),
    ("s29_view_desc_nulls_first", SFP,
     "          else Seq((pathGetter(schema, c), (a: Any, b: Any) => cmp(b, a), 1))\n",
     "          else Seq((pathGetter(schema, c), (a: Any, b: Any) => cmp(b, a), -1))\n",
     "a descending sort puts nulls first instead of DESC NULLS LAST"),
    ("s30_local_fs_set_permission_noop", LFS,
     "        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)\n",
     "        try ()\n",
     "the local filesystem's setPermission does nothing: created files keep the process umask"),
    ("s31_local_fs_no_symlink_branch", LFS,
     "      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)\n"
     "      else getFileStatus(f)\n",
     "      getFileStatus(f)\n",
     "the local filesystem's link status never reports a symlink: a dangling link reads as missing"),
    ("s32_local_fs_unbound", GS,
     "      .config(s\"spark.hadoop.${LocalFs.binding._1}\", LocalFs.binding._2)\n",
     "",
     "the session factory no longer binds file: to the fork-free local filesystem"),
    ("s33_delta_view_aliased_state_key", SK,
     "        rowLocalExpression(e) && !baseKey.exists(resolver(_, alias))\n",
     "        rowLocalExpression(e)\n",
     "a view expression aliased to a state key stays delta-maintained: keys a and A merge"),
    ("s34_heartbeat_always_ok", GW,
     '            "status" -> (if (down.isEmpty) "ok" else "degraded"),\n',
     '            "status" -> "ok",\n',
     "the heartbeat answers ok while a channel's query is down"),
    ("s35_owned_checkpoint_kept", CR,
     "    if (checkpointDir.isEmpty && !distributedState) graft.core.Scratch.release(checkpointRoot)\n",
     "",
     "stop() leaves the runtime's own checkpoint dir behind until the end-of-run sweep"),
    ("s36_frontier_replaced_key_old_bytes", CR,
     "        val r = JsonCodec.encoded(collected, schema)\n",
     "        val prior = byKey.get(k)\n"
     "        val r = if (prior == null) JsonCodec.encoded(collected, schema)\n"
     "          else new JsonCodec.EncodedRow(collected.toSeq.toArray, schema,\n"
     "            prior.asInstanceOf[JsonCodec.EncodedRow].utf8)\n",
     "a replaced frontier key keeps its old bytes: state reads serve the previous row"),
    ("s37_splice_schema_guard_dropped", JC,
     "    if (rows.forall { case e: EncodedRow => e.schema eq schema; case _ => false }) spliced(rows)\n",
     "    if (rows.forall { case _: EncodedRow => true; case _ => false }) spliced(rows)\n",
     "rowsJson splices cached row bytes under any schema: a response keeps the field names they were encoded with"),
    ("s38_sse_queue_unbounded", GW,
     "    val queue = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]](Gateway.EgressQueueFrames)\n",
     "    val queue = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]]\n",
     "the SSE queue has no bound: a client that never reads buffers frames without limit"),
]

# Prefilter: serving-focused suites, most likely to see these bugs.
PREFILTER_SUITES = [
    "graft.GatewaySpec", "graft.GraftGatewaySpec", "graft.WebSocketSpec",
    "graft.GatewayClientSpec", "graft.GatewayTestHarnessSpec",
    "graft.ServerMiddlewareSpec", "graft.ChannelRuntimeSpec",
    "graft.ViewServerDeltaSpec", "graft.StateFastPathSpec", "graft.JsonCodecSpec",
    "graft.LocalFsSpec",
]


def sh(cmd, cwd=None, timeout=None):
    return subprocess.run(cmd, shell=isinstance(cmd, str), cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def apply_mutant(worktree, m):
    _id, relpath, old, new, _note = m
    path = os.path.join(worktree, relpath)
    src = open(path).read()
    n = src.count(old)
    if n != 1:
        raise RuntimeError(f"{_id}: site occurs {n} times (need exactly 1) in {relpath}")
    open(path, "w").write(src.replace(old, new))


def revert(worktree, relpath):
    subprocess.run(["git", "checkout", "--", relpath], cwd=worktree, check=True)


def failing_tests(output):
    return [l.strip() for l in output.splitlines()
            if l.strip().startswith("[info] - ") and "*** FAILED ***" in l]


def run_one(worktree, m, full_on_green):
    _id, relpath, old, new, note = m
    rec = {"id": _id, "file": relpath, "note": note, "old": old, "new": new}
    t0 = time.time()
    apply_mutant(worktree, m)
    try:
        pre = sh(f"sbt -batch \"testOnly {' '.join(PREFILTER_SUITES)}\"",
                 cwd=worktree, timeout=3600)
        fails = failing_tests(pre.stdout)
        if pre.returncode != 0 or fails:
            rec.update(status="KILLED", stage="prefilter",
                       n_fail=len(fails), killed_by=fails[:10])
            if not fails:  # rc!=0 without parsed failures: compile error etc.
                rec["detail"] = (pre.stdout + pre.stderr)[-800:]
                rec["kill_mode"] = "suite_crash"
            return rec
        if not full_on_green:
            rec.update(status="SURVIVED", stage="prefilter")
            return rec
        full = sh("sbt -batch test", cwd=worktree, timeout=5400)
        fails = failing_tests(full.stdout)
        if full.returncode != 0 or fails:
            rec.update(status="KILLED", stage="full",
                       n_fail=len(fails), killed_by=fails[:10])
            if not fails:
                rec["detail"] = (full.stdout + full.stderr)[-800:]
                rec["kill_mode"] = "suite_crash"
            return rec
        rec.update(status="SURVIVED", stage="full")
        return rec
    finally:
        revert(worktree, relpath)
        rec["secs"] = round(time.time() - t0, 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--worktree", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ids", default="")
    ap.add_argument("--no-escalate", action="store_true",
                    help="stop at the prefilter (quick pass; survivors "
                         "still need the full-suite run before they count)")
    ap.add_argument("--suites", default="",
                    help="comma-separated override of the prefilter suites "
                         "(e.g. re-scoring codec-parity mutants against "
                         "graft.MultimodalSpec)")
    ap.add_argument("--mutants-from", default="",
                    help="JSONL file of {id,file,old,new,note} records to "
                         "score instead of the built-in MUTANTS list "
                         "(e.g. suite-scoring tools/mutgen.py survivors)")
    args = ap.parse_args()
    if args.suites:
        global PREFILTER_SUITES
        PREFILTER_SUITES = [s for s in args.suites.split(",") if s]
    global MUTANTS
    if args.mutants_from:
        MUTANTS = [(r["id"], r["file"], r["old"], r["new"], r.get("note", ""))
                   for r in map(json.loads, open(args.mutants_from))]
    ids = set(x for x in args.ids.split(",") if x)
    todo = [m for m in MUTANTS if not ids or m[0] in ids]
    dirty = sh(["git", "status", "--porcelain"], cwd=args.worktree).stdout.strip()
    if dirty:
        print(f"worktree dirty:\n{dirty}", file=sys.stderr)
        sys.exit(2)
    # environment precheck (the mutate.py discipline): the UNMUTATED
    # tree must pass the prefilter suites before any mutant is scored
    pre = sh(f"sbt -batch \"testOnly {' '.join(PREFILTER_SUITES)}\"",
             cwd=args.worktree, timeout=3600)
    if pre.returncode != 0 or failing_tests(pre.stdout):
        print("PRECHECK FAILED — suites red on the unmutated tree:", file=sys.stderr)
        print((pre.stdout + pre.stderr)[-1200:], file=sys.stderr)
        sys.exit(3)
    print("== precheck clean (prefilter suites green on unmutated tree)", flush=True)
    for m in todo:
        print(f"== {m[0]} ({m[4]})", flush=True)
        try:
            rec = run_one(args.worktree, m, full_on_green=not args.no_escalate)
        except Exception as e:
            rec = {"id": m[0], "status": "HARNESS_ERROR", "detail": str(e)}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"   -> {rec.get('status')} [{rec.get('stage', '-')}] "
              f"n_fail={rec.get('n_fail', '-')}", flush=True)


if __name__ == "__main__":
    main()
