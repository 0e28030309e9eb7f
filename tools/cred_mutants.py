#!/usr/bin/env python3
"""Credential-validation mutation mini-wave (r14 verdict task 2).

Wave 3 proved identity *filtering* (X13) is suite-sensitive; the
credential checks themselves — session expiry, api-key compare, Basic
password verification, OAuth bearer scheme / introspection `active` /
CSRF state / logout — had no seeded mutants. Each mutant below is the
shape of a real auth bug (expired session accepted, api-key prefix
match, password ignored, introspection accepts-anything, logout no-op,
unchecked bearer scheme, CSRF state bypass, external validator hook
bypassed) applied at a single site.

This script only EMITS the mutant list (receipts/mutants_cred_list
.jsonl); scoring runs through the existing suite harness:

  python3 tools/cred_mutants.py
  git worktree add /tmp/graft_cmut HEAD
  python3 tools/mutate_serving.py --worktree /tmp/graft_cmut \
      --out receipts/mutants_cred.jsonl \
      --mutants-from receipts/mutants_cred_list.jsonl

Reference contract being guarded: server/middleware/simple.py,
api_key.py, api_key_external.py, oauth.py (session minting/expiry,
token membership, introspection `active: true`, logout), and
tests/server/web/test_webserver.py's auth cases.
"""
import json, os

RC = "src/main/scala/graft/server/RequestContract.scala"
OA = "src/main/scala/graft/server/OAuth.scala"

MUTANTS = [
    ("c01_session_expiry_ignored", RC,
     "    Option(sessions.get(uuid)).flatMap { case (user, expires) =>\n"
     "      if (System.currentTimeMillis() <= expires) Some(user)\n"
     "      else { sessions.remove(uuid); None }\n"
     "    }",
     "    Option(sessions.get(uuid)).flatMap { case (user, expires) =>\n"
     "      if (expires != 0L) Some(user)\n"
     "      else { sessions.remove(uuid); None }\n"
     "    }",
     "simple-auth session: EXPIRED session cookie still authenticates"),
    ("c02_apikey_prefix_match", RC,
     "(apiKeys.nonEmpty && tokens(req).exists(apiKeys.contains))",
     "(apiKeys.nonEmpty && tokens(req).exists(t => apiKeys.exists(_.startsWith(t))))",
     "api-key check: a PREFIX of a configured key authorizes"),
    ("c03_basic_password_ignored", RC,
     "          case Array(u, p) if simpleAuthUsers.get(u).exists(expect =>\n"
     "            java.security.MessageDigest.isEqual(\n"
     "              expect.getBytes(StandardCharsets.UTF_8),\n"
     "              p.getBytes(StandardCharsets.UTF_8))) => Some(u)",
     "          case Array(u, _) if simpleAuthUsers.contains(u) => Some(u)",
     "Basic auth: password never compared — any password for a known user"),
    ("c04_oauth_expired_session", OA,
     "    Option(sessions.get(uuid)).flatMap { e =>\n"
     "      if (System.currentTimeMillis() <= e._3) Some(e)\n"
     "      else { sessions.remove(uuid); None }\n"
     "    }",
     "    Option(sessions.get(uuid)).flatMap { e =>\n"
     "      if (e._3 != 0L) Some(e)\n"
     "      else { sessions.remove(uuid); None }\n"
     "    }",
     "OAuth session store: EXPIRED session cookie still authenticates"),
    ("c05_introspect_ignores_active", OA,
     "        else Some(mapper.readTree(resp.body()))\n"
     "          .filter(n => Option(n.get(\"active\")).exists(_.asBoolean(false)))",
     "        else Some(mapper.readTree(resp.body()))",
     "RFC 7662 introspection: `active: false` tokens accepted"),
    ("c06_logout_noop", OA,
     "  def dropSession(uuid: String): Unit = sessions.remove(uuid)",
     "  def dropSession(uuid: String): Unit = { val _ = uuid }",
     "logout is a no-op — the session cookie stays valid after /auth/logout"),
    ("c07_bearer_scheme_unchecked", OA,
     "      authorizationHeader\n"
     "        .filter(_.toLowerCase(java.util.Locale.ROOT).startsWith(\"bearer \"))\n"
     "        .map(_.drop(7).trim)\n"
     "        .flatMap { token =>",
     "      authorizationHeader\n"
     "        .map(h => h.drop(h.indexOf(' ') + 1).trim)\n"
     "        .flatMap { token =>",
     "bearer validation: ANY Authorization scheme treated as a bearer token"),
    ("c08_csrf_state_accepts_any", OA,
     "  def consumeState(state: String): Boolean = {\n"
     "    val exp = pendingStates.remove(state)\n"
     "    (exp ne null) && exp.longValue() >= System.currentTimeMillis()\n"
     "  }",
     "  def consumeState(state: String): Boolean = {\n"
     "    pendingStates.remove(state)\n"
     "    true\n"
     "  }",
     "OAuth callback: CSRF `state` never validated (reference's open gap, "
     "closed by this gateway — the close must be suite-pinned)"),
    ("c09_external_validator_bypassed", RC,
     "apiKeyValidator.flatMap(v => tokens(req).iterator.map(v).collectFirst { case Some(id) => id })",
     "apiKeyValidator.flatMap(v => { val _ = v; tokens(req).headOption })",
     "external api-key validator hook bypassed — any presented token "
     "becomes the identity"),
]


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "receipts/mutants_cred_list.jsonl")
    with open(out, "w") as f:
        for _id, rel, old, new, note in MUTANTS:
            src = open(os.path.join(repo, rel)).read()
            n = src.count(old)
            if n != 1:
                raise SystemExit(f"{_id}: site occurs {n} times in {rel}")
            f.write(json.dumps({"id": _id, "file": rel, "old": old,
                                "new": new, "note": note}) + "\n")
    print(f"wrote {len(MUTANTS)} mutants to {out}")


if __name__ == "__main__":
    main()
