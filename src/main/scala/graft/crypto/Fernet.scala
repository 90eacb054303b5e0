package graft.crypto

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.SecureRandom
import java.util.Base64
import javax.crypto.spec.SecretKeySpec
import javax.crypto.{Cipher, Mac}

/** Fernet symmetric-token codec on `javax.crypto` only.
  *
  * Implements the public Fernet spec (github.com/fernet/spec): a 32-byte
  * urlsafe-base64 key whose first 16 bytes sign (HMAC-SHA256) and last 16
  * bytes encrypt (AES-128-CBC, PKCS7); token = base64url(0x80 || ts_be64 ||
  * iv16 || ciphertext || hmac32). Token-format-compatible with the
  * `cryptography` library the reference uses (/root/reference/pipeline.py:13,
  * 72-84), but unlike the reference — which discards the key at process exit,
  * making encryption one-way (SURVEY.md §0.2-4) — the key here is explicit so
  * round-trip decryption is possible and tested.
  *
  * All work runs on one [[Fernet.Kernel]] per thread, keyed once. A per-cell
  * `Cipher.init`, or IVs drawn from one shared `SecureRandom` (NativePRNG
  * serializes every `nextBytes` process-wide), would cap encryption at one
  * core.
  */
final class Fernet(keyBase64: String) extends Serializable {
  @transient private lazy val kernel = {
    val key = Fernet.decodeB64Url(keyBase64)
    ThreadLocal.withInitial[Fernet.Kernel](() => new Fernet.Kernel(key))
  }

  require(Fernet.decodeB64Url(keyBase64).length == 32,
    "Fernet key must be 32 bytes, urlsafe-base64 encoded")

  def encrypt(plaintext: Array[Byte]): String = {
    val k = kernel.get()
    k.seal(plaintext, System.currentTimeMillis() / 1000L, k.ivs, k.nextIv())
  }

  def encryptString(s: String): String = encrypt(s.getBytes(UTF_8))

  /** Deterministic variant (fixed timestamp + IV) — used by tests to pin
    * token bytes against the spec's structure.
    */
  private[graft] def encryptAt(plaintext: Array[Byte], timestampSec: Long, iv: Array[Byte]): String = {
    require(iv.length == 16, "Fernet IV must be 16 bytes")
    kernel.get().seal(plaintext, timestampSec, iv, 0)
  }

  /** Decrypt and verify a token; throws IllegalArgumentException on any
    * malformed/forged token (wrong version, bad HMAC, bad padding).
    */
  def decrypt(token: String): Array[Byte] = kernel.get().open(Fernet.decodeB64Url(token))

  def decryptString(token: String): String = new String(decrypt(token), UTF_8)

  /** Decrypt with time-to-live enforcement — the public-spec behavior of
    * `cryptography.fernet.Fernet.decrypt(token, ttl=...)`: after HMAC
    * verification (never before — expiry decisions must not run on
    * unauthenticated bytes), reject a token whose embedded timestamp is
    * older than `ttlSec` before `nowSec`, and reject one stamped more
    * than [[Fernet.MaxClockSkewSec]] (60 s, the reference library's
    * `_MAX_CLOCK_SKEW`) in the FUTURE of `nowSec` — a skewed writer
    * clock must not mint tokens that outlive their ttl. Both checks
    * apply only on this overload, matching the reference library:
    * ttl-less `decrypt(token)` never expires. `nowSec` is injectable so
    * expiry and skew are testable without sleeping.
    */
  def decrypt(token: String, ttlSec: Long, nowSec: Long): Array[Byte] = {
    val plaintext = decrypt(token) // full parse + HMAC verify first
    val ts = timestamp(token)
    require(ts + ttlSec >= nowSec, "Fernet token expired")
    require(ts <= nowSec + Fernet.MaxClockSkewSec,
      "Fernet token timestamp too far in the future")
    plaintext
  }

  def decrypt(token: String, ttlSec: Long): Array[Byte] =
    decrypt(token, ttlSec, System.currentTimeMillis() / 1000L)

  /** The token's embedded creation time (seconds since epoch). Parse-only —
    * callers that act on it must have verified the token (decrypt does).
    */
  private[graft] def timestamp(token: String): Long = {
    val raw = Fernet.decodeB64Url(token)
    require(raw.length >= 9, "Fernet token too short")
    ByteBuffer.wrap(raw, 1, 8).getLong
  }
}

object Fernet {
  /** Maximum tolerated FUTURE skew of a token's timestamp during
    * ttl-checked decrypts — the public spec's 60 s (`_MAX_CLOCK_SKEW` in
    * the reference's `cryptography` library).
    */
  val MaxClockSkewSec: Long = 60L

  /** Fresh random 32-byte key, urlsafe-base64 — parity with
    * `Fernet.generate_key()` (/root/reference/pipeline.py:72).
    */
  def generateKey(): String = {
    val bytes = new Array[Byte](32)
    new SecureRandom().nextBytes(bytes)
    encodeB64Url(bytes)
  }

  /** Deterministic key derivation from a seed string (SHA-256 → 32 bytes →
    * urlsafe-base64). For per-subject key tables this makes key PROVISIONING
    * reproducible from a master secret + subject id; shredding then deletes
    * the derived row (and, in a real deployment, rotates the master).
    */
  def deriveKey(seed: String): String =
    encodeB64Url(java.security.MessageDigest.getInstance("SHA-256")
      .digest(seed.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  private[crypto] def encodeB64Url(b: Array[Byte]): String =
    Base64.getUrlEncoder.encodeToString(b)

  private[crypto] def decodeB64Url(s: String): Array[Byte] =
    Base64.getUrlDecoder.decode(s.trim)

  private final val Header = 1 + 8 + 16 // version, timestamp, IV
  private final val Block = 16
  private final val Tag = 32

  /** One thread's keyed state. `Cipher` and `Mac` are not thread-safe, so
    * each thread owns its own, keyed once: AES runs in ECB mode on single
    * blocks, with CBC chaining and PKCS7 padding done by hand in the token
    * buffer, and `Mac.doFinal` leaves the MAC keyed for the next token. IVs
    * come from a private DRBG (no lock shared with other threads), drawn
    * 4 KB at a time; each 16-byte slice is handed out once.
    */
  private final class Kernel(key: Array[Byte]) {
    private val aesKey = new SecretKeySpec(key, 16, 16, "AES")
    private val enc = Cipher.getInstance("AES/ECB/NoPadding")
    enc.init(Cipher.ENCRYPT_MODE, aesKey)
    private val dec = Cipher.getInstance("AES/ECB/NoPadding")
    dec.init(Cipher.DECRYPT_MODE, aesKey)
    private val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, 0, 16, "HmacSHA256"))
    private val rng = SecureRandom.getInstance("DRBG")
    private val block = new Array[Byte](Block)
    private val tag = new Array[Byte](Tag)

    val ivs = new Array[Byte](4096)
    private var ivPos = ivs.length

    /** Offset in `ivs` of a fresh IV. */
    def nextIv(): Int = {
      if (ivPos == ivs.length) { rng.nextBytes(ivs); ivPos = 0 }
      ivPos += Block
      ivPos - Block
    }

    /** The token for `pt` at `ts` with the IV at `iv(ivOff)`, built in one
      * array: 0x80 || ts || iv || ct || hmac, base64url-encoded once.
      */
    def seal(pt: Array[Byte], ts: Long, iv: Array[Byte], ivOff: Int): String = {
      val ctLen = (pt.length / Block + 1) * Block
      val tok = new Array[Byte](Header + ctLen + Tag)
      tok(0) = 0x80.toByte
      var i = 0
      while (i < 8) { tok(1 + i) = (ts >>> (56 - 8 * i)).toByte; i += 1 }
      System.arraycopy(iv, ivOff, tok, 9, Block)
      val pad = (ctLen - pt.length).toByte
      var off = Header
      while (off < Header + ctLen) {
        // block = (plaintext || PKCS7 pad)[off..] xor the previous ciphertext block (the IV first)
        i = 0
        while (i < Block) {
          val p = off - Header + i
          block(i) = ((if (p < pt.length) pt(p) else pad) ^ tok(off - Block + i)).toByte
          i += 1
        }
        enc.update(block, 0, Block, tok, off)
        off += Block
      }
      mac.update(tok, 0, Header + ctLen)
      mac.doFinal(tok, Header + ctLen)
      encodeB64Url(tok)
    }

    /** Verify the HMAC of a raw token, then CBC-decrypt and unpad it. */
    def open(raw: Array[Byte]): Array[Byte] = {
      require(raw.length >= Header + Block + Tag, "Fernet token too short")
      require(raw(0) == 0x80.toByte, "Unsupported Fernet token version")
      val ctLen = raw.length - Header - Tag
      require(ctLen % Block == 0, "Fernet ciphertext is not whole blocks")
      mac.update(raw, 0, Header + ctLen)
      mac.doFinal(tag, 0)
      var diff = 0
      var i = 0
      while (i < Tag) { diff |= tag(i) ^ raw(Header + ctLen + i); i += 1 }
      require(diff == 0, "Fernet HMAC verification failed")
      val out = dec.doFinal(raw, Header, ctLen)
      i = 0
      while (i < ctLen) { out(i) = (out(i) ^ raw(9 + i)).toByte; i += 1 }
      val pad = out(ctLen - 1)
      require(pad >= 1 && pad <= Block &&
        (ctLen - pad until ctLen).forall(out(_) == pad), "Fernet padding invalid")
      java.util.Arrays.copyOf(out, ctLen - pad)
    }
  }
}
