package graft.pipeline

import java.nio.charset.StandardCharsets
import java.util.Base64
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

/**
 * Byte-faithful Azure Log Analytics SharedKey signature (SURVEY.md §2.7
 * F7; reference: src/interfaces/azure_oms_interface.rs:30-51):
 *
 *   stringToHash = "{method}\n{contentLength}\n{contentType}\n
 *                   x-ms-date:{date}\n{resource}"
 *   auth = "SharedKey {workspaceId}:" +
 *          base64(hmacSha256(base64decode(key), stringToHash))
 *
 * Only needed when emulating the OMS transport byte-for-byte (counts and
 * bodies don't require it — SURVEY §7.2). A signature covers one POST
 * body, not one row: `Transport.postOms` signs each batch as it sends it.
 */
object OmsSignature {

  def buildSignature(workspaceId: String, base64Key: String, date: String,
                     contentLength: Long, method: String = "POST",
                     contentType: String = "application/json",
                     resource: String = "/api/logs"): String = {
    val stringToHash =
      s"$method\n$contentLength\n$contentType\nx-ms-date:$date\n$resource"
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(Base64.getDecoder.decode(base64Key), "HmacSHA256"))
    val sig = mac.doFinal(stringToHash.getBytes(StandardCharsets.UTF_8))
    s"SharedKey $workspaceId:${Base64.getEncoder.encodeToString(sig)}"
  }
}
