package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.api.HttpApi
import graft.engine._

/** Authenticated-mode HTTP surface: HMAC-signed request tokens
  * (reference pkg/auth/request_signer.go chain), policy-statement
  * authorization on management endpoints, and access-key CRUD —
  * mirroring the allow/deny shape of
  * pkg/auth/access_key_statements_test.go. */
class AuthSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private lazy val (session, port) = {
    val s = new GraftSession(spark, Files.createTempDirectory("graft-auth"))
    val a = new HttpApi(s) // secure default: NO anonymous root
    (s, a.start())
  }

  private lazy val admin = session.accessKeys.put(
    AccessKey("admin-key", secret = "admin-secret", statements = Seq(
      AccessKeyStatement("allow", "*", Seq("*")))))

  private def signed(method: String, path: String, body: String,
      keyId: String, secret: String,
      dateOverride: Option[String] = None): HttpResponse[String] = {
    // the reference requires a NUMERIC unix-seconds date within 10s
    // (authentication_middleware.go ensureRequestIsNotExpired)
    val date = dateOverride.getOrElse((System.currentTimeMillis() / 1000).toString)
    val headers = Map(
      "content-type" -> "application/json",
      "host" -> s"127.0.0.1:$port",
      "x-lbdb-date" -> date)
    val token = RequestAuth.signRequest(keyId, secret, method, path, headers,
      body.getBytes(UTF_8))
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Authorization", token)
      .header("Content-Type", "application/json")
      .header("x-lbdb-date", date)
    val req = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "PUT" => b.method("PUT", BodyPublishers.ofString(body))
      case _ => b.POST(BodyPublishers.ofString(body))
    }
    client.send(req.build(), BodyHandlers.ofString())
  }

  test("canOnTable probe ladder: table denies bite, branch-exact allows don't leak") {
    // Pins the deliberate fail-closed divergence from the reference's
    // authorizedForTable (access_key_statements.go:118+): no branch-exact
    // probe, so a branch-wide allow + table-specific deny is REFUSED at
    // table granularity (the shape behind the r15 build-verb defect)
    // while canOnBranch still passes it for branch operations.
    val denyTbl = AccessKey("k", statements = Seq(
      AccessKeyStatement("allow", "database:d:branch:main", Seq("database:read")),
      AccessKeyStatement("deny", "database:d:branch:main:table:secret",
        Seq("database:read"))))
    assert(Authorizer.canOnBranch(denyTbl, "d", "main", "database:read"))
    assert(!Authorizer.canOnTable(denyTbl, "d", "main", "secret", "database:read"))
    // ... and even tables WITHOUT a deny need a statement that can see
    // table-level denies — branch-exact allows don't reach tables
    assert(!Authorizer.canOnTable(denyTbl, "d", "main", "open", "database:read"))
    // the branch-star grant is the supported "whole branch" table shape,
    // and the table deny still wins even though the allow matches a
    // coarser probe first — denies have LADDER-WIDE precedence here
    // (Authorizer.explicitDeny), unlike the reference's OR-of-probes
    // where this deny would be dead
    val starTbl = AccessKey("k2", statements = Seq(
      AccessKeyStatement("allow", "database:d:branch:main:*", Seq("database:read")),
      AccessKeyStatement("deny", "database:d:branch:main:table:secret",
        Seq("database:read"))))
    assert(Authorizer.canOnTable(starTbl, "d", "main", "open", "database:read"))
    assert(!Authorizer.canOnTable(starTbl, "d", "main", "secret", "database:read"))
    // a key allowed on exactly one table reads it — and only it
    val oneTbl = AccessKey("k3", statements = Seq(
      AccessKeyStatement("allow", "database:d:branch:main:table:docs",
        Seq("database:read"))))
    assert(Authorizer.canOnTable(oneTbl, "d", "main", "docs", "database:read"))
    assert(!Authorizer.canOnTable(oneTbl, "d", "main", "other", "database:read"))
    assert(!Authorizer.canOnBranch(oneTbl, "d", "main", "database:read"))
    // the veto holds at every ladder: a database-level deny beats even a
    // root allow for that database's ops — and only that database's —
    // and it is ACTION-scoped (the deny's actions must cover the probe)
    val dbDeny = AccessKey("k4", statements = Seq(
      AccessKeyStatement("allow", "*", Seq("*")),
      AccessKeyStatement("deny", "database:d", Seq("database:delete"))))
    assert(!Authorizer.canOnDatabase(dbDeny, "d", "database:delete"))
    assert(Authorizer.canOnDatabase(dbDeny, "d", "database:read"))
    assert(Authorizer.canOnDatabase(dbDeny, "other", "database:delete"))
    // the CONVERSE coarse shape (r16 advice): a deny written at an
    // ancestor-exact resource the table ladder's allow probes omit
    // (database:<db>, database:<db>:branch:<br>) must still veto table
    // reads — otherwise a db-exact read deny beside a `database:d:*`
    // allow reads every table (and, via the build verb's demandTable,
    // builds artifacts from them)
    val coarseDbDeny = AccessKey("k5", statements = Seq(
      AccessKeyStatement("allow", "database:d:*", Seq("database:read")),
      AccessKeyStatement("deny", "database:d", Seq("database:read"))))
    assert(!Authorizer.canOnTable(coarseDbDeny, "d", "main", "docs",
      "database:read"))
    assert(!Authorizer.canOnBranch(coarseDbDeny, "d", "main", "database:read"))
    val coarseBrDeny = AccessKey("k6", statements = Seq(
      AccessKeyStatement("allow", "database:d:*", Seq("database:read")),
      AccessKeyStatement("deny", "database:d:branch:main", Seq("database:read"))))
    assert(!Authorizer.canOnTable(coarseBrDeny, "d", "main", "docs",
      "database:read"))
    // ... and only that branch's tables: a sibling branch still reads
    assert(Authorizer.canOnTable(coarseBrDeny, "d", "dev", "docs",
      "database:read"))
    // the widened veto stays ACTION-scoped like every other deny
    val coarseOtherAction = AccessKey("k7", statements = Seq(
      AccessKeyStatement("allow", "database:d:*", Seq("database:read")),
      AccessKeyStatement("deny", "database:d", Seq("database:delete"))))
    assert(Authorizer.canOnTable(coarseOtherAction, "d", "main", "docs",
      "database:read"))
  }

  test("bare X-Access-Key-Id is rejected unless unsigned keys are enabled") {
    assert(admin.id == "admin-key")
    // key ids are public identifiers; resolving one without a signature
    // must be an explicit dev-mode opt-in
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/databases"))
      .header("X-Access-Key-Id", "admin-key")
      .POST(BodyPublishers.ofString("""{"name":"x"}""")).build(),
      BodyHandlers.ofString())
    assert(r.statusCode() == 401)
  }

  test("anonymous requests are 401 by default (no silent root)") {
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/databases"))
      .POST(BodyPublishers.ofString("""{"name":"x"}""")).build(),
      BodyHandlers.ofString())
    assert(r.statusCode() == 401)
  }

  test("a bad signature or unknown credential is 401") {
    assert(admin.id == "admin-key")
    val bad = signed("POST", "/v1/databases", """{"name":"x"}""",
      "admin-key", "wrong-secret")
    assert(bad.statusCode() == 401)
    val unknown = signed("POST", "/v1/databases", """{"name":"x"}""",
      "ghost", "s")
    assert(unknown.statusCode() == 401)
    val garbage = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/databases"))
      .header("Authorization", "not-base64!!")
      .POST(BodyPublishers.ofString("""{"name":"x"}""")).build(),
      BodyHandlers.ofString())
    assert(garbage.statusCode() == 401)
  }

  test("a valid HMAC token authenticates; missing privilege is 403") {
    val ok = signed("POST", "/v1/databases", """{"name":"authdb"}""",
      "admin-key", "admin-secret")
    assert(ok.statusCode() == 201, ok.body())
    // a key with query-only privileges cannot manage databases
    session.accessKeys.put(AccessKey("limited", secret = "limited-secret",
      statements = Seq(AccessKeyStatement("allow", "*",
        Seq("database:query", "database:select", "database:read")))))
    val forbidden = signed("POST", "/v1/databases", """{"name":"nope"}""",
      "limited", "limited-secret")
    assert(forbidden.statusCode() == 403)
    val alsoForbidden = signed("DELETE", "/v1/databases/authdb", "",
      "limited", "limited-secret")
    assert(alsoForbidden.statusCode() == 403)
  }

  test("signed query batch executes under the key's statement policy") {
    signed("POST", "/v1/databases", """{"name":"qdb"}""", "admin-key", "admin-secret")
    val mk = signed("POST", "/v1/databases/qdb/main/query",
      """{"queries":[{"id":"c","statement":"CREATE TABLE s (id INTEGER)"},
        |{"id":"i","statement":"INSERT INTO s VALUES (5)"}]}""".stripMargin,
      "admin-key", "admin-secret")
    assert(mk.statusCode() == 200, mk.body())
    session.accessKeys.put(AccessKey("reader", secret = "reader-secret",
      statements = Seq(AccessKeyStatement("allow", "*",
        Seq("database:query", "database:select", "database:read")))))
    val sel = signed("POST", "/v1/databases/qdb/main/query",
      """{"queries":[{"id":"s","statement":"SELECT id FROM s"}]}""",
      "reader", "reader-secret")
    assert(sel.statusCode() == 200, sel.body())
    assert(mapper.readTree(sel.body()).path("data").get(0)
      .path("rows").get(0).get(0).asLong() == 5L)
    val ins = signed("POST", "/v1/databases/qdb/main/query",
      """{"queries":[{"id":"w","statement":"INSERT INTO s VALUES (6)"}]}""",
      "reader", "reader-secret")
    assert(ins.statusCode() == 400) // per-query error shape
    assert(mapper.readTree(ins.body()).path("data").get(0)
      .path("error").asText().contains("database:insert"))
  }

  test("access-key CRUD over HTTP; secret only returned on create") {
    val created = signed("POST", "/v1/access-keys",
      """{"description":"ci key","statements":[
        |{"effect":"allow","resource":"*",
        | "actions":["database:query","database:select","database:read"]}]}""".stripMargin,
      "admin-key", "admin-secret")
    assert(created.statusCode() == 201, created.body())
    val cn = mapper.readTree(created.body()).path("data")
    val newId = cn.path("access_key_id").asText()
    val newSecret = cn.path("access_key_secret").asText()
    assert(newId.startsWith("lbdbak_") && newSecret.nonEmpty)
    // the new key authenticates immediately (and is persisted)
    signed("POST", "/v1/databases", """{"name":"ckdb"}""", "admin-key", "admin-secret")
    val use = signed("POST", "/v1/databases/ckdb/main/query",
      """{"queries":[{"id":"p","statement":"PRAGMA table_list"}]}""",
      newId, newSecret)
    assert(use.statusCode() == 400 || use.statusCode() == 200) // pragma needs database:pragma -> per-query deny
    // list/show omit the secret
    val shown = signed("GET", s"/v1/access-keys/$newId", "", "admin-key", "admin-secret")
    assert(shown.statusCode() == 200)
    assert(!shown.body().contains("access_key_secret"))
    // update statements
    val upd = signed("PUT", s"/v1/access-keys/$newId",
      """{"statements":[{"effect":"allow","resource":"*","actions":["*"]}]}""",
      "admin-key", "admin-secret")
    assert(upd.statusCode() == 200)
    // delete; the key stops authenticating
    val del = signed("DELETE", s"/v1/access-keys/$newId", "", "admin-key", "admin-secret")
    assert(del.statusCode() == 200)
    val gone = signed("GET", s"/v1/access-keys/$newId", "", newId, newSecret)
    assert(gone.statusCode() == 401)
  }

  test("users CRUD: password never returned, authenticate round trip") {
    val created = signed("POST", "/v1/users",
      """{"username":"ada","password":"hunter2","statements":[
        |{"effect":"allow","resource":"*","actions":["database:query"]}]}""".stripMargin,
      "admin-key", "admin-secret")
    assert(created.statusCode() == 201, created.body())
    assert(!created.body().contains("hunter2"))
    assert(session.users.authenticate("ada", "hunter2"))
    assert(!session.users.authenticate("ada", "wrong"))
    // root username reserved (reference user_controller.go:116)
    val asRoot = signed("POST", "/v1/users",
      """{"username":"root","password":"x"}""", "admin-key", "admin-secret")
    assert(asRoot.statusCode() == 500 || asRoot.statusCode() == 400)
    val listed = signed("GET", "/v1/users", "", "admin-key", "admin-secret")
    assert(listed.body().contains("ada") && !listed.body().contains("password"))
    val upd = signed("PUT", "/v1/users/ada",
      """{"password":"better-pass"}""", "admin-key", "admin-secret")
    assert(upd.statusCode() == 200)
    assert(session.users.authenticate("ada", "better-pass"))
    assert(!session.users.authenticate("ada", "hunter2"))
    val del = signed("DELETE", "/v1/users/ada", "", "admin-key", "admin-secret")
    assert(del.statusCode() == 200)
    assert(signed("GET", "/v1/users/ada", "", "admin-key", "admin-secret")
      .statusCode() == 404)
  }

  test("stale, non-numeric or missing x-lbdb-date is 401 (replay window)") {
    // a signed request whose date is outside the 10s window must not
    // validate, even with a perfectly good signature
    val stale = signed("GET", "/v1/databases", "", "admin-key", "admin-secret",
      dateOverride = Some((System.currentTimeMillis() / 1000 - 60).toString))
    assert(stale.statusCode() == 401)
    val nonNumeric = signed("GET", "/v1/databases", "", "admin-key",
      "admin-secret", dateOverride = Some("20260812T000000Z"))
    assert(nonNumeric.statusCode() == 401)
    val fresh = signed("GET", "/v1/databases", "", "admin-key", "admin-secret")
    assert(fresh.statusCode() == 200)
  }

  test("HTTP Basic auth maps a user account to its policy statements") {
    signed("POST", "/v1/users",
      """{"username":"basil","password":"pw-basil","statements":[
        |{"effect":"allow","resource":"*",
        | "actions":["database:query","database:select","database:read","database:list"]}]}""".stripMargin,
      "admin-key", "admin-secret")
    def basic(user: String, pass: String, path: String): HttpResponse[String] = {
      val cred = java.util.Base64.getEncoder.encodeToString(
        s"$user:$pass".getBytes(UTF_8))
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path"))
        .header("Authorization", s"Basic $cred").GET().build(),
        BodyHandlers.ofString())
    }
    assert(basic("basil", "pw-basil", "/v1/databases").statusCode() == 200)
    // wrong password: 401; right password, unprivileged route: 403
    assert(basic("basil", "nope", "/v1/databases").statusCode() == 401)
    assert(basic("basil", "pw-basil", "/v1/access-keys").statusCode() == 403)
  }

  test("data-plane scope cannot manage keys or users (escalation gate)") {
    // allow on ALL DATA resources with every action — the reference still
    // refuses key management unless the key is scoped "*" or "access-key:*"
    session.accessKeys.put(AccessKey("datawide", secret = "dw-secret",
      statements = Seq(AccessKeyStatement("allow", "database:*", Seq("*")))))
    val mk = signed("POST", "/v1/access-keys",
      """{"description":"evil","statements":[
        |{"effect":"allow","resource":"*","actions":["*"]}]}""".stripMargin,
      "datawide", "dw-secret")
    assert(mk.statusCode() == 403)
    assert(signed("GET", "/v1/access-keys", "", "datawide", "dw-secret")
      .statusCode() == 403)
    assert(signed("POST", "/v1/users",
      """{"username":"eve","password":"x"}""", "datawide", "dw-secret")
      .statusCode() == 403)
    // a key scoped access-key:* manages keys but not users or data
    session.accessKeys.put(AccessKey("keyadmin", secret = "ka-secret",
      statements = Seq(AccessKeyStatement("allow", "access-key:*", Seq("*")))))
    assert(signed("GET", "/v1/access-keys", "", "keyadmin", "ka-secret")
      .statusCode() == 200)
    assert(signed("GET", "/v1/users", "", "keyadmin", "ka-secret")
      .statusCode() == 403)
  }

  test("encryption key store + activate rotation (/v1/keys contract)") {
    import java.nio.charset.StandardCharsets.UTF_8
    def hmacHex(k: String, msg: String): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(k.getBytes(UTF_8), "HmacSHA256"))
      mac.doFinal(msg.getBytes(UTF_8)).map("%02x".format(_)).mkString
    }
    val dir = Files.createTempDirectory("graft-enc")
    val s1 = new GraftSession(spark, dir, encryptionKey = Some("key-one"))
    s1.accessKeys.put(AccessKey("enc-admin", secret = "enc-secret",
      statements = Seq(AccessKeyStatement("allow", "*", Seq("*")))))
    // the store file is ciphertext: no secret substring on disk
    val raw = Files.readAllBytes(dir.resolve("_access_keys.json"))
    assert(new String(raw.take(9), UTF_8) == "GRAFTENC1")
    assert(!new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("enc-secret"))
    // rotation: stage with the current key's signature, then activate
    intercept[DeniedException](s1.keyManager.storeNext("key-two", "bad-sig"))
    s1.keyManager.storeNext("key-two", hmacHex("key-one", "key-two"))
    intercept[IllegalArgumentException](s1.keyManager.activate("key-three"))
    assert(s1.keyManager.hasStaged("key-two"))
    s1.keyManager.activate("key-two")
    // a restart under the NEW key reads the re-encrypted stores
    val s2 = new GraftSession(spark, dir, encryptionKey = Some("key-two"))
    assert(s2.accessKeys.get("enc-admin").map(_.secret) == Some("enc-secret"))
    // a restart under the OLD key is refused by the stored key hash
    intercept[IllegalArgumentException](
      new GraftSession(spark, dir, encryptionKey = Some("key-one")))
    // staging the current key again is rejected (reference
    // NextEncryptionKey: "already the current encryption key")
    intercept[IllegalArgumentException](
      s2.keyManager.storeNext("key-two", hmacHex("key-two", "key-two")))
  }

  test("interrupted rotation: marker present means stores hold the staged key") {
    import java.nio.charset.StandardCharsets.UTF_8
    def sha256hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
    def hmacHex(k: String, msg: String): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(k.getBytes(UTF_8), "HmacSHA256"))
      mac.doFinal(msg.getBytes(UTF_8)).map("%02x".format(_)).mkString
    }
    val dir = Files.createTempDirectory("graft-rot")
    val km1 = new KeyManager(dir, Some("key-one"))
    val store1 = new AccessKeyStore(dir, Some(km1))
    store1.put(AccessKey("rot-key", secret = "rot-secret"))
    km1.storeNext("key-two", hmacHex("key-one", "key-two"))
    km1.activate("key-two")
    // simulate the crash window between marker write and .graft_key swap:
    // stores re-encrypted under key-two, .graft_key still key-one, marker up
    Files.write(dir.resolve(".graft_key"), sha256hex("key-one").getBytes(UTF_8))
    Files.write(dir.resolve(".graft_key_next"), sha256hex("key-two").getBytes(UTF_8))
    // restart with the OLD key is refused with a pointer to the staged key
    // (its hash matches .graft_key, but the stores are under key-two —
    // accepting it and deleting the marker would strand them)
    val refuse = intercept[IllegalStateException](new KeyManager(dir, Some("key-one")))
    assert(refuse.getMessage.contains("staged"))
    assert(Files.exists(dir.resolve(".graft_key_next")), "marker must survive the refusal")
    // restart with the STAGED key completes the rotation and reads the stores
    val km2 = new KeyManager(dir, Some("key-two"))
    assert(!Files.exists(dir.resolve(".graft_key_next")))
    assert(new String(Files.readAllBytes(dir.resolve(".graft_key")), UTF_8)
      == sha256hex("key-two"))
    assert(new AccessKeyStore(dir, Some(km2)).get("rot-key")
      .map(_.secret) == Some("rot-secret"))
  }

  test("failed re-encryption keeps the root readable and the rotation retryable") {
    import java.nio.charset.StandardCharsets.UTF_8
    def hmacHex(k: String, msg: String): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(k.getBytes(UTF_8), "HmacSHA256"))
      mac.doFinal(msg.getBytes(UTF_8)).map("%02x".format(_)).mkString
    }
    val dir = Files.createTempDirectory("graft-rotfail")
    val km = new KeyManager(dir, Some("key-one"))
    // a store that fails its first TWO re-persists, registered BEFORE the
    // real store: each activation dies with the access-key file still
    // under key-one
    var failures = 2
    km.registerStore(() =>
      if (failures > 0) { failures -= 1; sys.error("simulated repersist crash") })
    val store = new AccessKeyStore(dir, Some(km))
    store.put(AccessKey("fb-key", secret = "fb-secret"))
    km.storeNext("key-two", hmacHex("key-one", "key-two"))
    intercept[RuntimeException](km.activate("key-two"))
    // no marker and no hash swap happened — the durable state is untouched
    assert(!Files.exists(dir.resolve(".graft_key_next")))
    // the active key is already key-two, but the store file is still under
    // key-one: decrypt falls back to the previous key, so reads still work
    assert(new AccessKeyStore(dir, Some(km)).get("fb-key")
      .map(_.secret) == Some("fb-secret"))
    // the key stayed staged, so the activation is simply retried; a retry
    // that fails AGAIN must preserve key-one as the fallback (active is
    // already key-two on the retry — clobbering fallback with it would
    // strand the still-unflipped file)
    assert(km.hasStaged("key-two"))
    intercept[RuntimeException](km.activate("key-two"))
    assert(new AccessKeyStore(dir, Some(km)).get("fb-key")
      .map(_.secret) == Some("fb-secret"))
    km.activate("key-two")
    val km2 = new KeyManager(dir, Some("key-two"))
    assert(new AccessKeyStore(dir, Some(km2)).get("fb-key")
      .map(_.secret) == Some("fb-secret"))
    intercept[IllegalArgumentException](new KeyManager(dir, Some("key-one")))
  }

  test("rotation sidecars: every crash instant leaves a bootable root") {
    import java.nio.charset.StandardCharsets.UTF_8
    def hmacHex(k: String, msg: String): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(k.getBytes(UTF_8), "HmacSHA256"))
      mac.doFinal(msg.getBytes(UTF_8)).map("%02x".format(_)).mkString
    }
    // phase-1 debris: a sidecar under a key that never activated is
    // discarded on load and the OLD key boots
    val d1 = Files.createTempDirectory("graft-rot-p1")
    val km1 = new KeyManager(d1, Some("key-one"))
    new AccessKeyStore(d1, Some(km1)).put(AccessKey("k", secret = "s1"))
    Files.write(d1.resolve("_access_keys.json.rot"),
      Array[Byte](71, 82, 65, 70, 84, 69, 78, 67, 49, 9, 9, 9)) // garbage
    val km1b = new KeyManager(d1, Some("key-one"))
    assert(new AccessKeyStore(d1, Some(km1b)).get("k").map(_.secret) == Some("s1"))
    assert(!Files.exists(d1.resolve("_access_keys.json.rot")), "debris must be discarded")
    // phase-2 crash: marker written, a store's sidecar staged under the
    // new key but not yet renamed — restarting with the STAGED key adopts
    // the sidecar and completes; the old key is refused with a pointer
    val d2 = Files.createTempDirectory("graft-rot-p2")
    val km2 = new KeyManager(d2, Some("key-one"))
    // commit-crasher registered FIRST: its phase-2 commit throws before
    // the real store's rename runs
    km2.registerStore(() => (), () => sys.error("simulated phase-2 crash"))
    val store2 = new AccessKeyStore(d2, Some(km2))
    store2.put(AccessKey("k2", secret = "s2"))
    km2.storeNext("key-two", hmacHex("key-one", "key-two"))
    intercept[RuntimeException](km2.activate("key-two"))
    assert(Files.exists(d2.resolve(".graft_key_next")), "marker marks staged sidecars")
    assert(Files.exists(d2.resolve("_access_keys.json.rot")), "sidecar still pending")
    intercept[IllegalStateException](new KeyManager(d2, Some("key-one")))
    val reborn = new KeyManager(d2, Some("key-two"))
    assert(new AccessKeyStore(d2, Some(reborn)).get("k2").map(_.secret) == Some("s2"))
    assert(!Files.exists(d2.resolve("_access_keys.json.rot")), "sidecar adopted")
    assert(!Files.exists(d2.resolve(".graft_key_next")))
  }

  test("parameterized MATCH binds adversarial payloads as data, never SQL") {
    // MATCH parameters are the one place user-supplied VALUES are spliced
    // into SQL text (the rewrite needs the literal); these payloads pin
    // the escaping so a future edit can't silently reopen the vector
    val s = new GraftSession(spark, Files.createTempDirectory("graft-matchparam"))
    s.createDatabase("dbm")
    def qx(stmt: String, params: Seq[Param] = Nil) =
      QueryInput("q-" + scala.util.Random.nextInt(1 << 24), stmt, params, "")
    s.execute("dbm", "main", qx("CREATE TABLE docs (doc_id INTEGER, body TEXT)"))
    s.execute("dbm", "main", qx(
      "INSERT INTO docs VALUES (1, 'spark shuffles data'), " +
        "(2, 'duckdb is embedded'), (3, 'secret value row')"))
    s.execute("dbm", "main", qx(
      "CREATE VIRTUAL TABLE dfx USING fts5(body, content='docs', content_rowid='doc_id')"))
    val matchQ = "SELECT doc FROM dfx WHERE dfx MATCH ?"
    // baseline: the parameter binds and matches
    val base = s.execute("dbm", "main", qx(matchQ, Seq(Param.text("embedded"))))
    assert(base.error.isEmpty, base.error)
    assert(base.rows.map(_.head) == Seq(SqlValue.IntVal(2)))
    // quote breakout attempt: must stay one FTS query string (no doc has
    // these tokens), never become `... MATCH 'x' OR '1'='1'`
    val quote = s.execute("dbm", "main",
      qx(matchQ, Seq(Param.text("embedded' OR '1'='1"))))
    assert(quote.error.isEmpty, quote.error)
    assert(quote.rows.isEmpty, s"quote payload leaked rows: ${quote.rows}")
    // trailing backslash: pre-r3 escaping emitted 'x\' where the backslash
    // escaped the closing quote under Spark's parser, swallowing the rest
    // of the statement into the literal — the canonical breakout primer
    val bs = s.execute("dbm", "main", qx(matchQ, Seq(Param.text("embedded\\"))))
    assert(bs.error.isEmpty, bs.error)
    assert(bs.rows.isEmpty, s"backslash payload leaked rows: ${bs.rows}")
    val bsQuote = s.execute("dbm", "main",
      qx(matchQ, Seq(Param.text("x\\' OR rowid > 0 --"))))
    assert(bsQuote.error.isEmpty, bsQuote.error)
    assert(bsQuote.rows.isEmpty, s"backslash-quote payload leaked rows: ${bsQuote.rows}")
    // statement-terminator + comment payload: stays data, table survives
    val drop = s.execute("dbm", "main",
      qx(matchQ, Seq(Param.text("x'; DROP TABLE docs; --"))))
    assert(drop.error.isEmpty, drop.error)
    assert(drop.rows.isEmpty)
    val intact = s.execute("dbm", "main", qx("SELECT count(*) AS n FROM docs"))
    assert(intact.error.isEmpty, intact.error)
    assert(intact.rows == Seq(Seq(SqlValue.IntVal(3))))
    // comment-only payload can't truncate the statement tail (the ORDER BY
    // must still apply — a swallowed tail would parse-error or reorder)
    val cm = s.execute("dbm", "main", qx(
      "SELECT doc FROM dfx WHERE dfx MATCH ? ORDER BY doc",
      Seq(Param.text("spark -- junk"))))
    assert(cm.error.isEmpty, cm.error)
    val cmIds = cm.rows.map(_.head.asInstanceOf[SqlValue.IntVal].v)
    assert(cmIds == cmIds.sorted)
  }

  test("CREATE/DROP TRIGGER demand the trigger privileges, not create_table") {
    assert(admin.id == "admin-key") // force the lazy admin key
    assert(Authorizer.requiredPrivilege(
      "CREATE TRIGGER tr AFTER INSERT ON t BEGIN SELECT 1; END")
      .contains("database:create_trigger"))
    assert(Authorizer.requiredPrivilege("DROP TRIGGER tr")
      .contains("database:drop_trigger"))
    val mkdb = signed("POST", "/v1/databases", """{"name":"trgdb"}""",
      "admin-key", "admin-secret")
    assert(mkdb.statusCode() == 201, mkdb.body())
    val mkt = signed("POST", "/v1/databases/trgdb/main/query",
      """{"queries":[{"id":"c","statement":"CREATE TABLE tt (id INTEGER)"}]}""",
      "admin-key", "admin-secret")
    assert(mkt.statusCode() == 200, mkt.body())
    // table DDL rights alone do not grant trigger DDL (reference keeps
    // separate DatabasePrivilegeCreateTrigger/DropTrigger privileges)
    session.accessKeys.put(AccessKey("ddler", secret = "ddl-secret",
      statements = Seq(AccessKeyStatement("allow", "*",
        Seq("database:query", "database:select", "database:read",
          "database:create_table", "database:insert")))))
    val denied = signed("POST", "/v1/databases/trgdb/main/query",
      """{"queries":[{"id":"t","statement":
        |"CREATE TRIGGER trx AFTER INSERT ON tt BEGIN SELECT 1; END"}]}""".stripMargin,
      "ddler", "ddl-secret")
    assert(mapper.readTree(denied.body()).path("data").get(0)
      .path("error").asText().contains("database:create_trigger"), denied.body())
    // with the privilege granted, the same statement lands
    session.accessKeys.put(AccessKey("trigmaker", secret = "tm-secret",
      statements = Seq(AccessKeyStatement("allow", "*",
        Seq("database:query", "database:select", "database:read",
          "database:create_trigger")))))
    val ok = signed("POST", "/v1/databases/trgdb/main/query",
      """{"queries":[{"id":"t","statement":
        |"CREATE TRIGGER trx AFTER INSERT ON tt BEGIN SELECT 1; END"}]}""".stripMargin,
      "trigmaker", "tm-secret")
    assert(ok.statusCode() == 200, ok.body())
  }

  test("a clause keyword inside a column name cannot cut the read walk short") {
    assert(admin.id == "admin-key")
    def query(stmt: String, keyId: String, secret: String): String = {
      val r = signed("POST", "/v1/databases/kwdb/main/query",
        s"""{"queries":[{"id":"q","statement":"$stmt"}]}""", keyId, secret)
      mapper.readTree(r.body()).path("data").get(0).path("error").asText()
    }
    assert(signed("POST", "/v1/databases", """{"name":"kwdb"}""",
      "admin-key", "admin-secret").statusCode() == 201)
    Seq("CREATE TABLE t (id INTEGER, v INTEGER, is_returning INTEGER, " +
        "conflict_count INTEGER)",
      "INSERT INTO t VALUES (1, 0, 0, 0)",
      "CREATE TABLE secret (x INTEGER)",
      "INSERT INTO secret VALUES (42)").foreach { st =>
      assert(query(st, "admin-key", "admin-secret").isEmpty, st)
    }
    session.accessKeys.put(AccessKey("kw-key", secret = "kw-secret",
      statements = Seq(
        AccessKeyStatement("allow", "*", Seq("*")),
        AccessKeyStatement("deny", "database:kwdb:branch:main:table:secret",
          Seq("database:read")))))
    // `returning` and `conflict` inside a column name are not the
    // statement's RETURNING / ON CONFLICT suffix: every read is checked
    Seq("v", "is_returning", "conflict_count").foreach { c =>
      val err = query(s"UPDATE t SET $c = (SELECT x FROM secret LIMIT 1) WHERE id = 1",
        "kw-key", "kw-secret")
      assert(err.contains("secret"), s"$c: $err")
    }
    val got = signed("POST", "/v1/databases/kwdb/main/query",
      """{"queries":[{"id":"s","statement":"SELECT v, is_returning, conflict_count FROM t"}]}""",
      "admin-key", "admin-secret")
    val row = mapper.readTree(got.body()).path("data").get(0).path("rows").get(0)
    assert((0 until 3).map(row.get(_).asLong()) == Seq(0L, 0L, 0L), got.body())
  }

  test("keys routes demand cluster-manage scope over HTTP") {
    // data-plane keys (even database:* with all actions) cannot rotate
    session.accessKeys.put(AccessKey("dataonly", secret = "d-secret",
      statements = Seq(AccessKeyStatement("allow", "database:*", Seq("*")))))
    assert(signed("POST", "/v1/keys",
      """{"encryption_key":"x","signature":"y"}""", "dataonly", "d-secret")
      .statusCode() == 403)
    // admin reaches the handler; encryption is not enabled on this engine
    val r = signed("POST", "/v1/keys",
      """{"encryption_key":"x","signature":"y"}""", "admin-key", "admin-secret")
    assert(r.statusCode() == 400)
    assert(r.body().contains("not enabled"))
    val a = signed("POST", "/v1/keys/activate",
      """{"encryption_key":"x"}""", "admin-key", "admin-secret")
    assert(a.statusCode() == 400)
    assert(a.body().contains("invalid"))
  }

  test("request token round trip and store persistence across restart") {
    val tok = RequestAuth.signRequest("k1", "s1", "POST", "/v1/x",
      Map("content-type" -> "application/json", "host" -> "h",
        "x-lbdb-date" -> "d"), "body".getBytes(UTF_8))
    val cap = RequestAuth.captureToken(tok)
    assert(cap.valid && cap.accessKeyId == "k1")
    assert(cap.signedHeaders == Seq("content-type", "host", "x-lbdb-date"))
    assert(RequestAuth.validate(cap, "s1", "POST", "/v1/x",
      Map("content-type" -> "application/json", "host" -> "h",
        "x-lbdb-date" -> "d"), "body".getBytes(UTF_8)))
    assert(!RequestAuth.validate(cap, "s2", "POST", "/v1/x",
      Map("content-type" -> "application/json", "host" -> "h",
        "x-lbdb-date" -> "d"), "body".getBytes(UTF_8)))
    // store persistence: a second store over the same root sees the keys
    val dir = Files.createTempDirectory("graft-keys")
    val st1 = new AccessKeyStore(dir)
    val k = st1.create("persisted", Seq(AccessKeyStatement("allow", "*", Seq("*"))))
    val st2 = new AccessKeyStore(dir)
    assert(st2.get(k.id).map(_.secret) == Some(k.secret))
  }

  test("store writes serialize against an in-flight rotation") {
    import java.nio.charset.StandardCharsets.UTF_8
    def hmacHex(k: String, msg: String): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(k.getBytes(UTF_8), "HmacSHA256"))
      mac.doFinal(msg.getBytes(UTF_8)).map("%02x".format(_)).mkString
    }
    val dir = Files.createTempDirectory("graft-rot-race")
    val km = new KeyManager(dir, Some("key-one"))
    val store = new AccessKeyStore(dir, Some(km))
    store.put(AccessKey("pre", secret = "s-pre"))
    // a slow store holds the rotation open mid-swap: a concurrent put used
    // to persist the live file under the NEW key here and then be
    // clobbered by the stale phase-2 sidecar rename (lost write) — or, if
    // the process died, brick the root (live file under the new key,
    // .graft_key still the old hash, no marker)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    km.registerStore(() => { entered.countDown(); gate.await() }, () => ())
    km.storeNext("key-two", hmacHex("key-one", "key-two"))
    val rot = new Thread(() => km.activate("key-two"))
    rot.start()
    entered.await()
    val putDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val putter = new Thread(() => {
      store.put(AccessKey("mid", secret = "s-mid")); putDone.set(true)
    })
    putter.start()
    Thread.sleep(300)
    assert(!putDone.get, "a store write ran inside an in-flight rotation")
    gate.countDown()
    rot.join(20000); putter.join(20000)
    assert(putDone.get, "the blocked write must complete after the rotation")
    // nothing was lost or left under the wrong key: a restart with the
    // new key reads BOTH writes
    val km2 = new KeyManager(dir, Some("key-two"))
    val store2 = new AccessKeyStore(dir, Some(km2))
    assert(store2.get("pre").map(_.secret) == Some("s-pre"))
    assert(store2.get("mid").map(_.secret) == Some("s-mid"))
  }
}
