package graft.server

/** Credential + profile surface for the wire doors (VERDICT r18 next
  * #4). The reference's entrypoint honors `CLICKHOUSE_USER` /
  * `CLICKHOUSE_PASSWORD` (reference `Dockerfile:300-302`) and
  * configures a `readonly` profile (`Dockerfile:250-252`); the Spark
  * analog reads the same variables at endpoint start (None = the
  * auth-less `default` user, CH's own default) plus
  * `CLICKHOUSE_READONLY=1` as the profile knob — readonly sessions
  * run only what [[Statement.run]]'s readonly rule permits, at every
  * door.
  *
  * Endpoints take the config per-instance (tests run authed and
  * auth-less doors in one JVM), defaulting to the environment. */
final case class Auth(user: String, password: String, readonly: Boolean = false)

object Auth {
  def fromEnv: Option[Auth] =
    sys.env.get("CLICKHOUSE_USER").map(u =>
      Auth(u, sys.env.getOrElse("CLICKHOUSE_PASSWORD", ""),
        sys.env.get("CLICKHOUSE_READONLY").contains("1")))

  /** `mysql_native_password` scramble (public MySQL protocol):
    * SHA1(password) XOR SHA1(nonce ++ SHA1(SHA1(password))). */
  def mysqlNativeScramble(password: String, nonce: Array[Byte]): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val p1 = md.digest(password.getBytes("UTF-8"))
    md.reset()
    val p2 = md.digest(p1)
    md.reset()
    md.update(nonce)
    md.update(p2)
    val p3 = md.digest()
    p1.zip(p3).map { case (a, b) => (a ^ b).toByte }
  }
}
